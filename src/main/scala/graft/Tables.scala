package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loading + canonical-rendering helpers shared by every operator.
  *
  * The testdata layout (one parquet file per table under the sf dir) mirrors the
  * reference's Iceberg tables (`/root/reference/duckdb/init.sql:22-32` attaches a
  * catalog; our stand-in resolves `name` -> `dir/name.parquet`, SURVEY.md §1.3).
  */
object Tables {
  // Session-scoped table cache, keyed by (session, mode, dir, name) with
  // the SESSION OBJECT as the key component: SparkSession uses identity
  // equality, so no two live sessions can collide (an identity HASH, by
  // contrast, can be reused after the original session is GC'd and hand a
  // new session a DataFrame bound to a dead one). Entries of stopped
  // sessions are evicted on each cached lookup, so the map neither pins
  // dead sessions' (possibly persisted) plans nor grows without bound.
  private val dfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), DataFrame]

  /** Drop cache entries whose owning session has been stopped. O(entries),
    * entries = live sessions × tables — trivially small; runs on each cached
    * lookup so a long-lived multi-session process self-cleans. */
  private def evictStopped(): Unit = {
    dfCache.filterInPlace { case ((owner, _, _, _), _) => !owner.sparkContext.isStopped }
    statCache.filterInPlace { case ((owner, _, _), _) => !owner.sparkContext.isStopped }
  }

  /** On-disk size of a table, memoized per (session, dir, name) — keyed by
    * session so size stats share dfCache's lifetime assumption exactly: a
    * table path regenerated between sessions re-stats instead of reusing a
    * stale size for the pin decision (r19, ADVICE). See [[t]]. */
  private val statCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Long]
  private def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    statCache.getOrElseUpdate((spark, dir, name), {
      val f = new java.io.File(s"$dir/$name.parquet")
      if (f.isDirectory) f.listFiles.map(_.length).sum else f.length
    })

  /** Catalog-style table resolution with a two-tier cache, selected by the
    * session conf `spark.graft.tableCache`:
    *
    *  - `off`    — re-resolve on every call (fresh file listing + footer read).
    *  - `meta`   — (default) cache the resolved DataFrame per session: one
    *               file listing + schema read per table, like any warm
    *               catalog (HMS/Iceberg snapshot cache). ~70–150 ms saved per
    *               query at bench scale; semantics identical to `off`.
    *  - `memory` — additionally repartition to ~2 MiB splits (the testdata
    *               parquet is single-row-group, so a raw scan is ONE task no
    *               matter the cluster size) and pin in Spark's columnar cache
    *               (`CACHE TABLE` semantics). This is the hot-table serving
    *               mode: the DuckDB oracle re-reads OS-page-cached parquet,
    *               and the cached InMemoryRelation is Spark's equivalent
    *               warm state. At 100 TB you cache dimensions and hot
    *               partitions, not the fact table — at bench SF the whole
    *               dataset is hot by construction.
    *
    * Filters/projections on the uncached result are pushed into the parquet
    * scan by Catalyst (verified via explain: PushedFilters).
    *
    * `events.ts` is TIMESTAMP(NANOS) in the parquet footer, which Spark's
    * vectorized reader rejects; we read it as raw nanos (legacy conf) and
    * truncate to a microsecond TimestampType — the same ns→µs truncation
    * DuckDB applies, so oracle renderings agree. Integer `div` (not `/`):
    * epoch-nanos exceed 2^53, double arithmetic would corrupt them. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val mode = spark.conf.get("spark.graft.tableCache", "meta")
    if (mode == "off") load(spark, dir, name)
    else {
      evictStopped()
      // tableSource is part of the key: flipping it to/from "graft"
      // mid-session must not serve DataFrames resolved through the OTHER
      // source out of the cache.
      val source = spark.conf.get("spark.graft.tableSource", "parquet")
      // memory mode caps what it pins (r16, measured at sf10): columnar-
      // caching a text-heavy or fact-scale table made compute-dense
      // queries SLOWER than parquet re-reads — x151 ran 135 s against the
      // cached 55 MB documents table vs 20.5 s against parquet (same join
      // tree; InMemoryTableScan string batches decode slower than the
      // dictionary-encoded vectorized parquet scan, and GB-scale caches
      // spill). The 100 TB rule this encodes: pin dimensions and small hot
      // tables, let the columnar format serve big/wide payloads. Default
      // 32 MiB keeps every sf0.1 bench table cached (whole dataset
      // ~100 MB) and auto-excludes the sf10 text/fact tables.
      // The file stat + cap resolution happen OUTSIDE getOrElseUpdate and
      // the resolved pin DECISION is part of the cache key (r17, ADVICE):
      // changing spark.graft.cacheMaxBytes mid-session must build a fresh
      // entry, not silently serve one pinned under the old cap; and meta
      // mode must not pay a directory listing it never uses.
      // bytes memoized per (dir, name) — r18, ADVICE: the stat + listFiles
      // ran on EVERY t() call in memory mode; table files are immutable
      // for a session (the same assumption dfCache itself makes)
      val pin = mode == "memory" &&
        tableBytes(spark, dir, name) <= spark.conf.get("spark.graft.cacheMaxBytes",
          (32L << 20).toString).toLong
      if (mode == "memory") {
        // a cacheMaxBytes flip mid-session changes the pin decision; the
        // displaced sibling entry must not keep its blocks persisted
        // (r18, ADVICE)
        dfCache.remove((spark, s"$mode/$source/${!pin}", dir, name))
          .foreach(old => if (!pin) { old.unpersist(); () })
      }
      dfCache.getOrElseUpdate((spark, s"$mode/$source/$pin", dir, name), {
        val df = load(spark, dir, name)
        if (!pin) df
        else {
          val bytes = tableBytes(spark, dir, name)
          val parts = math.max(1L, math.min(
            spark.sparkContext.defaultParallelism.toLong, bytes / (2L << 20))).toInt
          val r = if (parts > 1) df.repartition(parts) else df
          r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          r
        }
      })
    }
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // tableSource=graft routes resolution through the engine's own DSv2
    // connector (sources.GraftDataSource — column/filter pushdown through
    // OUR catalog seam); default stays Spark's built-in parquet source.
    // The connector already normalizes timestamps (ns→µs, TIMESTAMP), so
    // the post-load fixups below are no-ops on that path.
    if (spark.conf.get("spark.graft.tableSource", "parquet") == "graft")
      return spark.read.format("graft").load(s"$dir/$name.parquet")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df = raw.schema.fields
      .find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .map(_ => raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
      .getOrElse(raw)
    // Normalize any TIMESTAMP_NTZ column (tz-less parquet physical type,
    // inferred when a session lacks Engine's inferTimestampNTZ=false pin) to
    // TIMESTAMP. Exact under the UTC-pinned session: the cast reinterprets
    // the same wall-clock micros. Keeps every operator on one timestamp
    // type regardless of how the data generator wrote the files.
    df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(df)((acc, f) => acc.withColumn(f.name, col(f.name).cast("timestamp")))
  }

  /** Exact, order-independent sum of a double column (double addition is not
    * associative — at 100 TB the shuffle's reduction order is
    * nondeterministic, and the DuckDB oracle adds in yet another order).
    *
    * Implementation: fixed-point integer sum — round each value to `scale`
    * decimals as a scaled long, sum longs (codegen'd primitive agg; a
    * DECIMAL-cast sum is equivalent but runs the BigDecimal accumulator:
    * measured ~0.5 s per sum over 600k rows vs ~0 for longs), divide once.
    * Value-identical to the oracle's CAST(x AS DECIMAL(28,s)) sum: each
    * input rounds to the same scaled integer (our doubles are exact scale-2
    * rationals, products of them exact scale-4 — never at a rounding tie),
    * the integer sum is exact, and the final single division is correctly
    * rounded on both sides. Long capacity: |sum * 10^scale| must stay below
    * 2^53 for the toDouble to be exact — holds through bench scale; a 100 TB
    * deployment sizes scale or partial-aggregates per group far below that. */
  def dsum(c: Column, scale: Int = 2): Column = {
    val p = math.pow(10, scale)
    sum(round(c * p).cast("long")) / lit(p)
  }

  /** Canonical timestamp rendering (UTC, microseconds, trailing zeros trimmed)
    * — matches DuckDB's VARCHAR cast so oracle hashes line up. */
  def tsStr(c: Column): Column = c.cast("string")

  /** Half-up rounding via floor(x*10^s + 0.5)/10^s instead of round():
    * round()'s tie-breaking differs between Spark (BigDecimal HALF_UP on the
    * shortest decimal repr) and DuckDB (std::round on the raw double), and
    * RATIONAL quantities (averages, ratios) genuinely land on exact ties.
    * The floor form is the same IEEE double ops in both engines, so identical
    * inputs give identical outputs. Use for any rational-valued rounding;
    * plain round() is fine for continuous values (sqrt/ln/cosine). */
  def fround(c: Column, scale: Int): Column = {
    val p = lit(math.pow(10, scale))
    floor(c * p + lit(0.5)) / p
  }

  /** Order-independent exact average: fixed-point sum (exact, any reduction
    * order) divided by count. A native AVG's double sum depends on partition
    * order — nondeterministic across cluster layouts. */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(lit(1))

  /** 60-bit deterministic content hash with an exact DuckDB twin: first 15
    * hex digits of md5 of the UTF-8 bytes, parsed base-16. Oracle side:
    * `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`. 15 digits keep the
    * value positive in a signed 64-bit int on both engines; md5-hex is
    * byte-identical everywhere. Used wherever a hash must match across
    * engines (shingle fingerprints, MinHash bases, LSH band keys) — the
    * engine-parity complement of the throwaway-speed xxhash64.
    *
    * Implementation is the codegen [[graft.functions.H60]] expression
    * (digest bytes → long directly, no hex-string materialization or
    * base-16 parse); PropertiesSpec asserts bit-equality against the
    * conv(substring(md5(...))) formulation this documents. */
  def h60(c: Column): Column =
    graft.functions.VectorExprs.h60(c.cast("string"))

  /** DuckDB twin of [[h60]] over the SQL expression `x`. */
  def h60Sql(x: String): String =
    s"CAST(('0x' || substring(md5($x), 1, 15)) AS BIGINT)"

  /** Compute-proportional fan-out: repartition to the cluster's parallelism
    * before a CPU-dense stage (all-pairs cosine, shingling, MinHash).
    *
    * Scan parallelism is sized by BYTES (splits of ~2 MiB–128 MiB), but
    * these stages are compute-bound per byte: a 0.5 MiB embeddings table is
    * one scan split, which would serialize a million-pair cosine sweep onto
    * one core of a 1000-core cluster. The shuffle this inserts moves only
    * the small input (MBs), and buys full-cluster parallelism for the
    * expensive downstream work — same reasoning at 100 TB, where the
    * broadcast-side query set is small but the per-row kernel dominates. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Frames pinned via [[pinCorpus]] under `disk` storage, drained by
    * [[Engine.reapLocalCheckpoints]] (persisted InMemoryRelations are
    * CacheManager-tracked, not checkpoint-tracked, so the reaper needs its
    * own registry). */
  private[graft] val pinnedDisk =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Materialize-once for a CORPUS-SCALE shared frame (rows proportional to
    * the input corpus — token streams, gram sets, candidate pairs), selected
    * by the session conf `spark.graft.pin.storage`:
    *
    *  - `local` — (default) eager `localCheckpoint(true)`: blocks live on
    *    executor storage with NO lineage. Right for local mode and for the
    *    bench; on a real cluster a lost executor kills the query and it is
    *    documented-unsafe under dynamic allocation — acceptable for
    *    group/dimension-sized frames, NOT for corpus-sized ones.
    *  - `disk` — `persist(DISK_ONLY)` + eager materialization: same
    *    evaluate-once plan shape, but lineage survives, so a lost block is
    *    recomputed instead of failing the job — the 100 TB cluster posture
    *    (guide §5: localCheckpoint only "when fault tolerance of that
    *    intermediate is not critical"). Pinned frames are registered and
    *    released by `Engine.reapLocalCheckpoints` exactly like checkpoint
    *    blocks.
    *
    * GROUP/DIMENSION-sized shared frames (histograms, per-group reps,
    * top-k, label frames) keep calling `localCheckpoint(true)` directly —
    * losing one is cheap to recompute from the front at worst, and the
    * blocks are KBs–MBs at any scale. */
  def pinCorpus(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.pin.storage").contains("disk")) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      p.count() // fills the whole cache (every column) without building external Rows
      pinnedDisk.add(p)
      p
    } else df.localCheckpoint(true)

  /** Postfix spelling of [[pinCorpus]] so operator chains read like the
    * `.localCheckpoint(true)` sites they harden. */
  implicit class PinOps(private val df: DataFrame) {
    def pinCorpus: DataFrame = Tables.pinCorpus(df)
  }
}
