package graft

import org.apache.spark.sql.SparkSession

/** Canonical engine session: local[cpus] with the engine defaults, the
  * Graft extensions (custom expressions + optimizer rules), and
  * `SPARK_GRAFT_CONF="k=v;k=v"` overrides for experiments. Every main builds
  * its session here, so the plans a checking tool prints or audits are the
  * plans the benchmarks run.
  *
  * Engine defaults keep AQE on (coalescing, skew-join handling — the 100 TB
  * posture); the benchmark and plan-inspection mains layer [[benchProfile]]
  * on top. */
object Engine {
  /** Local core count: `SPARK_GRAFT_CPUS`, else every core this JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Latency profile of the suite benchmarks: at bench SF every shuffle is
    * <10 MB, so AQE's per-stage re-planning jobs cost more than they save,
    * and 8 post-shuffle partitions keep tasks from shrinking to sub-MB
    * pieces whose scheduling dominates. `SPARK_GRAFT_CONF` still overrides
    * both. */
  val benchProfile: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8")

  /** `defaults` apply after the engine base confs but BEFORE the
    * `SPARK_GRAFT_CONF` env overrides, so experiments always win. */
  def builder(defaults: (String, String)*): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Pin timestamp semantics at the engine seam: tz-less parquet
      // timestamp[us] columns would otherwise infer as TIMESTAMP_NTZ
      // (Spark 4 default), and strict functions (unix_micros) reject NTZ.
      // Under the UTC-pinned session the two types carry identical
      // wall-clock micros, so reading everything as TIMESTAMP is exact and
      // makes the suite immune to the physical type the data generator
      // happens to emit. Tables.load additionally normalizes NTZ columns
      // for sessions built outside this builder.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "2000")
      // static conf, default 100: a 58-query suite × several codegen units
      // each evicts round-robin, so every warm query pays a janino recompile
      // (~0.5–1 s). Sized to hold the whole suite's generated classes.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Named SQL catalog over the engine's DSv2 connector: three-part
      // names (`SELECT … FROM graft.sf001.lineitem`) resolve through
      // sources.GraftCatalog → GraftDataTable — the same pushdown +
      // snapshot-isolation path as spark.read.format("graft"). Namespaces
      // are directories under root; the sfNNN aliases exist because the
      // testdata dir names carry dots SQL identifiers can't (unquoted).
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root",
        sys.env.getOrElse("SPARK_GRAFT_DATA_ROOT", "/root/testdata"))
      .config("spark.sql.catalog.graft.ns.sf0001", "sf0.001")
      .config("spark.sql.catalog.graft.ns.sf001", "sf0.01")
      .config("spark.sql.catalog.graft.ns.sf01", "sf0.1")
      .config("spark.ui.enabled", "false")
    defaults.foreach { case (k, v) => b.config(k, v) }
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    })
    b
  }

  def session(defaults: (String, String)*): SparkSession = {
    val s = builder(defaults: _*).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release every locally-checkpointed RDD still registered with the
    * context, returning how many were reaped.
    *
    * Why this seam exists: iterative operators
    * (pagerank, k-core, LPA, CC dedup, the stream replays, x166's prefix
    * sum) pin eager `localCheckpoint` blocks that MUST outlive the
    * operator function — results are lazy, so the checkpoint's lifetime
    * has to cover the caller's materialization, which means the operator
    * itself can never safely unpersist them. Over a long-lived session
    * running hundreds of queries (the 100 TB serving posture, and exactly
    * the driver's 207-query bench) the orphaned blocks accumulate in the
    * storage pool and degrade later queries. The contract: a serving
    * layer calls this AFTER fully consuming a query's result. Safe
    * because nothing in the engine caches a checkpointed DataFrame across
    * queries (model caches hold driver-side arrays; the table cache is
    * CacheManager-tracked InMemoryRelations, which `isLocallyCheckpointed`
    * excludes), so any surviving local-checkpoint block is garbage once
    * the consuming action returns.
    *
    * Detection is the public `RDD.isCheckpointed` (true once checkpoint
    * data has materialized — which, post-action, every consumed local
    * checkpoint has; cache RDDs are persisted-but-never-checkpointed and
    * stay false). The engine writes no reliable checkpoints (no
    * `sc.setCheckpointDir` call anywhere), so checkpointed == local. */
  def reapLocalCheckpoints(spark: SparkSession): Int = {
    val doomed = spark.sparkContext.getPersistentRDDs.values
      .filter(_.isCheckpointed).toSeq
    doomed.foreach(_.unpersist(blocking = false))
    // Frames pinned with Tables.pinCorpus under `spark.graft.pin.storage=
    // disk` are CacheManager-persisted (lineage kept), not checkpointed —
    // drain their registry too so the disk posture gets the same per-query
    // cleanup contract.
    var reapedPins = 0
    var pin = Tables.pinnedDisk.poll()
    while (pin != null) {
      pin.unpersist(blocking = false)
      reapedPins += 1
      pin = Tables.pinnedDisk.poll()
    }
    doomed.size + reapedPins
  }
}
