package lakebench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.{Engine, SparkEntry, Tables}

/** The hot query suite: one client runs a fixed key list in sequence against
  * the warm session, under the suite bench's latency profile.
  *
  * Run order: a cold pass in list order (meta table cache, tables read from
  * parquet) that hashes every result for the correctness check; a timed
  * nocache pass on the same cache mode; the set-up (columnar table cache materialized three
  * times); one untimed warm pass that compiles the cached-scan code; then hot
  * passes until the measuring window is spent, at least [[minPasses]]. The
  * seed permutes the key order of the hot passes. */
object Suite {
  val keys: Seq[String] = Seq(
    "q01_event_analytics",   // the reference's canonical analytics query
    "x23_multi_query_topk",  // TopK-UDAF vector eval
    "x167_acf",              // weak key against its DuckDB twin
    "q02_count",             // fixed-cost (floor) keys, one per operators module
    "q10_inner_join",
    "q19_lag_delta",
    "x46_pii_scrub",
    "x70_hash_sample")

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val scale = "sf0.01"
  /** Timed hot passes per run, at least. */
  val minPasses = 3

  /** Order-independent digest of a result: md5 over the sorted row renderings. */
  def resultHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def expectedHashes(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, h) = l.split("\\s+"); k -> h }.toMap

  /** Mode `--hash-dir <dir>`: print the digest of each key's parquet result
    * under `dir` (as written by graft.Verify), for cross-checking the
    * recorded hashes against DuckDB-verified outputs. */
  def hashDir(spark: SparkSession, dir: String): Unit =
    keys.foreach { k =>
      val p = s"$dir/$k"
      if (Files.isDirectory(Paths.get(p))) {
        println(s"$k ${resultHash(spark.read.parquet(p))}")
      }
    }

  def run(spark: SparkSession, a: Args): Outcome = {
    val sf = s"${a.data}/$scale"
    val expected = expectedHashes(s"${a.data}/expected_hashes.txt")
    val order = new scala.util.Random(a.seed).shuffle(keys)
    val checks = new Checks
    val cores = spark.sparkContext.defaultParallelism

    def build(k: String): DataFrame = SparkEntry.queries(k)(spark, sf)
    var reapMs = Vector.empty[Double]
    def reap(trace: String): Unit =
      reapMs :+= Trace.timed("Engine.reap", trace)(Engine.reapLocalCheckpoints(spark))._2

    // cold pass: compiles and loads everything, hashes every result and
    // counts the source rows each key scans
    spark.conf.set("spark.graft.tableCache", "meta")
    val (c0, _) = Trace.codegen
    Trace.attach(spark)
    Main.note("suite: cold pass")
    val cold = keys.map { k =>
      val (got, ms) = Trace.timed("suite.key", s"cold:$k")(Trace.op(spark, s"cold:$k")(resultHash(build(k))))
      Main.note(f"cold $k $ms%.0f ms")
      reap(s"cold:$k")
      checks(s"$k result hash $got != ${expected.getOrElse(k, "<none>")}", expected.get(k).contains(got))
      ms
    }
    Trace.detach(spark)
    val scanRows = Trace.drain().values.map(_.scanRows).sum

    /** One timed run of key `k`: build the DataFrame, then materialize the
      * full result through the noop sink. Returns (build, exec, wall) ms. */
    def timedRun(k: String, trace: String): (Double, Double, Double) = {
      val ((b, e), wall) = Trace.timed("suite.key", trace) {
        Trace.op(spark, trace) {
          val (df, b) = Trace.timed("suite.build", trace)(build(k))
          val (_, e) = Trace.timed("suite.exec", trace)(df.write.mode("overwrite").format("noop").save())
          (b, e)
        }
      }
      reap(trace)
      (b, e, wall)
    }

    // nocache pass: warm code, tables re-read from parquet (metadata cache only)
    Main.note("suite: nocache pass")
    val nocache = order.map(k => timedRun(k, s"nocache:$k")._3)
    Main.note("suite: set-up")
    val coldCodegenMs = { val (c, mean) = Trace.codegen; (c - c0) * mean }

    // set-up: (re)materialize the columnar table cache, three times
    spark.conf.set("spark.graft.tableCache", "memory")
    val setups = (1 to 3).map { i =>
      Trace.timed("Tables.materialize", s"setup:$i") {
        tables.foreach { t =>
          val df = Tables.t(spark, sf, t)
          df.unpersist(blocking = true)
          df.persist(StorageLevel.MEMORY_AND_DISK)
          Trace.op(spark, s"setup:$i")(df.count())
        }
      }._2
    }
    Main.note("suite: warm pass")
    order.foreach(k => timedRun(k, s"warm:$k")) // compiles the cached-scan code, untimed
    Main.note("suite: hot passes")

    // measuring window: whole hot passes; in a traced run every other pass
    // runs with the listeners detached, to measure the tracing overhead
    val hot = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val split = scala.collection.mutable.Map.empty[String, Vector[(Double, Double, Double)]].withDefaultValue(Vector.empty)
    var tracedWall, plainWall = Vector.empty[Double]
    val (g0, j0) = (Trace.gcMs, Trace.jitMs)
    var passCosts = Vector.empty[Map[String, OpCost]]
    var passWall = Vector.empty[Double]
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val traced = a.trace && pass % 2 == 0
      if (traced) Trace.attach(spark)
      val p0 = System.nanoTime()
      order.foreach { k =>
        val (b, e, wall) = timedRun(k, s"hot$pass:$k")
        hot(k) :+= wall
        Main.note(f"hot$pass $k $wall%.0f ms")
        if (traced) { split(k) :+= ((b, e, wall)); tracedWall :+= wall } else plainWall :+= wall
      }
      if (traced) {
        passWall :+= (System.nanoTime() - p0) / 1e6
        Trace.detach(spark)
        passCosts :+= Trace.drain()
      }
      pass += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val (g1, j1) = (Trace.gcMs, Trace.jitMs)

    val hotAll = hot.values.flatten.toSeq
    // best of the passes per key, as graft.Bench: a co-tenant burst only
    // ever slows a pass down
    val hotS = keys.map(k => hot(k).min).sum / 1e3
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups) / 1e3,
      "pass_s" -> hotS,
      "op_p50_ms" -> Stats.median(hotAll),
      "op_tail_ms" -> Stats.quantile(hotAll, Stats.Tail),
      "rows_per_s" -> scanRows / hotS)

    // per-layer: Spark costs per traced pass; compute is the executor time
    // spread over every core, floor is the rest of the wall time
    val computeMs = Stats.median(passCosts.map(_.values.map(_.executorRunMs).sum.toDouble / cores))
    val builds = split.values.flatten.map(_._1).toSeq
    val execs = split.values.flatten.map(_._2).toSeq
    val layers = Trace.sparkLayers(passCosts.map(_.values)) ++ Map(
      "query.build_ms" -> Stats.median(builds),
      "query.exec_ms" -> Stats.median(execs),
      "query.compute_ms" -> computeMs,
      "query.floor_ms" -> math.max(0.0, Stats.median(passWall) - computeMs),
      "query.codegen_ms" -> coldCodegenMs,
      "Engine.reap_ms" -> Stats.mean(reapMs),
      "Tables.materialize_ms" -> Stats.median(setups),
      "jvm.gc_ms" -> (g1 - g0).toDouble / pass,
      "jvm.jit_ms" -> (j1 - j0).toDouble / pass,
      "trace.overhead_pct" -> (Stats.median(tracedWall) / Stats.median(plainWall) - 1) * 100)

    // build + exec must account for each key's wall time (within 10%)
    if (a.trace) keys.foreach { k =>
      val (b, e, w) = (Stats.median(split(k).map(_._1)), Stats.median(split(k).map(_._2)),
        Stats.median(split(k).map(_._3)))
      checks(s"$k build+exec ${b + e} ms vs wall $w ms", math.abs(b + e - w) <= 0.1 * w)
    }
    val notes = Map(
      "suite_hot_s" -> hotS,
      "suite_cold_s" -> cold.sum / 1e3,
      "suite_nocache_s" -> nocache.sum / 1e3,
      "nocache_p50_ms" -> Stats.median(nocache),
      "hot_passes" -> pass.toDouble,
      "window_s" -> windowS,
      "keys" -> keys.size.toDouble)
    Outcome(checks.failed == 0, checks.attempted, checks.failed, endToEnd, layers, notes)
  }
}
