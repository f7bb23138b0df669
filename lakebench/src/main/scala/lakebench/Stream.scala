package lakebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{AnalyticsPipeline, FileTopic, IngestJob, TradeGen, Topics}

/** The live stream, an open loop. Seeded trade chunks are generated in one
  * Spark job during set-up and moved atomically into the trades topic on a
  * fixed schedule; IngestJob commits them on a ProcessingTime trigger, and the
  * reference's query-and-publish loop runs beside it on its own schedule.
  *
  * Freshness of a chunk is the time from its due time to the first snapshot
  * commit that makes its rows visible; analytics latency is timed from each
  * run's due time, so a run that starts late pays for the wait. */
object Stream {
  val rate = 4000 // trades per second
  val chunkMs = 250L
  val chunkRows: Long = rate * chunkMs / 1000
  val triggerMs = 2000L
  val analyticsMs = 1500L
  /** Chunks and analytics runs due in the first `warmMs` are not measured. */
  val warmMs = 1000L
  /** Tracing is switched on and off in alternate slots of this length. */
  val slotMs = 2000L

  /** Write `nChunks` chunk files under `dir` in one job: chunk k holds trades
    * [k * chunkRows, (k + 1) * chunkRows) of the seeded sequence. */
  def stage(spark: SparkSession, dir: String, nChunks: Int, seed: Long): Unit = {
    val env = Topics.envelope(TradeGen.trades(spark, nChunks * chunkRows, seed), "trade_id")
    val second = unix_seconds(to_timestamp(get_json_object(col("value"), "$.ts_event")))
    env.withColumn("chunk", ((second - TradeGen.baseEpoch) / chunkRows).cast("int"))
      .repartition(col("chunk"))
      .write.partitionBy("chunk").json(dir)
  }

  def chunkFile(dir: String, k: Int): Path = {
    val files = Files.list(Paths.get(dir, s"chunk=$k"))
    try files.iterator.asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq match {
      case Seq(f) => f
      case fs => sys.error(s"chunk $k has ${fs.size} files")
    } finally files.close()
  }

  /** (chunk index, batch id) for every file the ingest source has planned,
    * from the file source's metadata log in the checkpoint. */
  def plannedChunks(ckpt: String): Map[Int, Long] = {
    val Entry = """"path":"[^"]*chunk-(\d+)\.json".*?"batchId":(\d+)""".r
    val logDir = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(logDir)) Map.empty
    else {
      val files = Files.list(logDir)
      try files.iterator.asScala.toSeq.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
        Files.readAllLines(f).asScala.flatMap(l => Entry.findAllMatchIn(l).map(m => m.group(1).toInt -> m.group(2).toLong))
      }.toMap
      finally files.close()
    }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  def run(spark: SparkSession, a: Args, checks: Checks): Cycle.Part = {
    val nChunks = ((warmMs + a.seconds * 1000 + chunkMs) / chunkMs).toInt
    val dir = s"${a.work}/stream"

    // set-up: generate the chunks, three times
    val setups = (1 to 3).map { i =>
      val staging = s"$dir/staging$i"
      val ms = Trace.timed("TradeGen.produce", s"setup:$i")(stage(spark, staging, nChunks, a.seed))._2
      if (i > 1) Main.deleteTree(Paths.get(s"$dir/staging${i - 1}"))
      Main.note(f"stream set-up $i: $ms%.0f ms")
      ms
    }
    val staging = s"$dir/staging3"
    val chunks = (0 until nChunks).map(chunkFile(staging, _))

    val topicDir = s"$dir/topics/trades"
    Files.createDirectories(Paths.get(topicDir))
    val tradesTopic = FileTopic(topicDir)
    val analyticsTopic = FileTopic(s"$dir/topics/trade_analytics")
    val tableDir = s"$dir/tables/trades"
    val log = Paths.get(tableDir, "_snapshots.jsonl")

    @volatile var stop = false
    @volatile var watching = true
    @volatile var moved = 0
    val late = new Array[Double](nChunks)
    val seen = new ConcurrentHashMap[Long, Double]() // batch id -> first time visible
    final case class Run(j: Int, due: Double, latency: Double, hop: Pipeline.Hop)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[Run]()

    val (g0, j0) = (Trace.gcMs, Trace.jitMs)
    val q = Pipeline.startTrades(spark, tradesTopic, dir, Trigger.ProcessingTime(triggerMs))
    // ProcessingTime triggers fire on multiples of the interval in wall-clock
    // time; starting the schedules at a fixed phase to that grid keeps the
    // chunk-to-trigger alignment the same in every run
    val wall = System.currentTimeMillis()
    val t0 = Trace.nowMs + ((wall / triggerMs + 1) * triggerMs - wall) + chunkMs / 2
    val windowStart = t0 + warmMs
    val windowEnd = windowStart + a.seconds * 1000
    def sleepUntil(t: Double): Unit = { val d = t - Trace.nowMs; if (d > 0) Thread.sleep(d.toLong, ((d % 1) * 1e6).toInt) }
    def traced(t: Double): Boolean = a.trace && ((t - windowStart) / slotMs).floor.toLong % 2 == 0

    val watcher = thread("snapshot-watcher") {
      val Batch = """"batch":(\d+)""".r.unanchored
      while (watching) {
        if (Files.exists(log)) {
          val now = Trace.nowMs
          // complete lines only: the writer may be mid-append
          new String(Files.readAllBytes(log)).split("\n", -1).dropRight(1)
            .foreach { case Batch(b) => seen.putIfAbsent(b.toLong, now); case _ => }
        }
        Thread.sleep(5)
      }
    }
    val generator = thread("chunk-generator") {
      var k = 0
      while (!stop && k < nChunks) {
        val due = t0 + k * chunkMs
        sleepUntil(due)
        Files.move(chunks(k), Paths.get(topicDir, f"chunk-$k%05d.json"), StandardCopyOption.ATOMIC_MOVE)
        late(k) = Trace.nowMs - due
        k += 1
        moved = k
        if (due >= windowEnd) stop = true
      }
    }
    val analytics = thread("analytics-loop") {
      var j = 0
      while (!stop) {
        val due = t0 + j * analyticsMs
        sleepUntil(due)
        if (Files.exists(log) && !stop) {
          val hop = Trace.op(spark, s"analytics:$j", exclusive = false)(
            Pipeline.analytics(spark, tableDir, analyticsTopic, s"analytics:$j"))
          runs.add(Run(j, due, Trace.nowMs - due, hop))
          Main.note(f"analytics $j: late ${Trace.nowMs - due}%.0f ms (readTable ${hop.readTable}%.0f, tradeStats ${hop.tradeStats}%.0f, publish ${hop.publish}%.0f)")
        }
        j += 1
      }
    }

    // listener slots: traced and untraced stretches alternate
    var attached = false
    while (!stop) {
      val want = traced(Trace.nowMs) && Trace.nowMs >= windowStart
      if (want && !attached) { Trace.attach(spark); attached = true }
      if (!want && attached) { Trace.detach(spark); attached = false }
      Thread.sleep(20)
    }
    generator.join()
    analytics.join()
    // drain: every moved chunk must be committed
    val movedRows = moved * chunkRows
    val drainBy = Trace.nowMs + 10 * triggerMs
    while (Commits.read(tableDir).rows < movedRows && Trace.nowMs < drainBy) Thread.sleep(20)
    Thread.sleep(50)
    watching = false
    watcher.join()
    if (attached) Trace.detach(spark)
    val costs = Trace.drain()
    val progress = q.recentProgress.toSeq
    val (g1, j1) = (Trace.gcMs, Trace.jitMs)
    q.stop()
    q.awaitTermination()
    progress.foreach(p => Main.note(s"trigger ${p.batchId} rows ${p.numInputRows} ${p.durationMs}"))

    // ---- checks -------------------------------------------------------------
    val committed = Commits.read(tableDir)
    checks(s"committed rows ${committed.rows} != produced $movedRows", committed.rows == movedRows)
    checks(s"rejects ${committed.rejects}", committed.rejects == 0)
    val planned = plannedChunks(s"$dir/ckpt/trades")
    val visible = (0 until moved).filter(k => planned.get(k).exists(seen.containsKey))
    checks(s"${moved - visible.size} of $moved chunks never became visible", visible.size == moved)
    val table = IngestJob.readTable(spark, tableDir)
    val Array(rows, distinct) = table.agg(count(lit(1)), countDistinct(col("trade_id"))).head().toSeq.toArray
    checks(s"trade_id duplicates: $rows rows, $distinct distinct", rows == distinct && rows == movedRows)
    val last = Pipeline.analytics(spark, tableDir, analyticsTopic, "final").rows
    val expected = Pipeline.render(AnalyticsPipeline.tradeStats(TradeGen.trades(spark, movedRows, a.seed)))
    checks("last analytics snapshot != batch recompute", last == expected)
    val withRows = progress.filter(_.numInputRows > 0)
    // sustainable rate: rows per trigger do not grow from the first half of
    // the run to the second (the first trigger only holds the start-up chunks)
    val perTrigger = withRows.drop(1).map(_.numInputRows.toDouble)
    val half = perTrigger.size / 2
    val rowsGrowth = if (half == 0) 1.0 else Stats.median(perTrigger.drop(half)) / Stats.median(perTrigger.take(half))
    checks(s"rows per trigger grew ${rowsGrowth}x: the rate is not sustainable", rowsGrowth <= 1.5)

    // ---- metrics ------------------------------------------------------------
    def inWindow(t: Double) = t >= windowStart && t < windowEnd
    val fresh = (0 until moved).map(k => (t0 + k * chunkMs, k)).filter(x => inWindow(x._1))
      .flatMap { case (due, k) => planned.get(k).flatMap(b => Option(seen.get(b))).map(v => (due, v - due)) }
    val allRuns = runs.asScala.toSeq.filter(r => inWindow(r.due))
    val windowRows = seen.asScala.toSeq.filter(x => inWindow(x._2)).map(_._1).toSet
    val rowsIn = {
      val Line = """\{"batch":(\d+),"rows":(\d+)""".r.unanchored
      Files.readAllLines(log).asScala.collect { case Line(b, r) if windowRows(b.toLong) => r.toLong }.sum
    }
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups) / 1e3,
      "op_p50_ms" -> Stats.median(fresh.map(_._2)),
      "op_tail_ms" -> Stats.quantile(fresh.map(_._2), Stats.Tail))

    val cores = spark.sparkContext.defaultParallelism
    val tracedRuns = allRuns.filter(r => traced(r.due))
    val tracedTriggers = withRows.filter(p => costs.contains(Trace.streamOp(p.id.toString, p.batchId)))
    val runCompute = tracedRuns.map(r => costs.get(s"analytics:${r.j}").map(_.executorRunMs.toDouble / cores).getOrElse(0.0))
    val layers = Map(
      "IngestJob.readTable_ms" -> Stats.median(tracedRuns.map(_.hop.readTable)),
      "AnalyticsPipeline.tradeStats_ms" -> Stats.median(tracedRuns.map(_.hop.tradeStats)),
      "IngestJob.trigger_growth" -> Pipeline.triggerGrowth(progress),
      "IngestJob.jobs_per_trigger" -> Stats.mean(Pipeline.jobsPerTrigger(costs, tracedTriggers)),
      "query.build_ms" -> Stats.median(tracedRuns.map(_.hop.readTable)),
      "query.exec_ms" -> Stats.median(tracedRuns.map(_.hop.tradeStats)),
      "query.compute_ms" -> Stats.median(runCompute),
      "query.floor_ms" -> Stats.median(tracedRuns.zip(runCompute).map { case (r, c) => math.max(0.0, r.latency - c) }),
      "Engine.reap_ms" -> Stats.median(tracedRuns.map(_.hop.reap)),
      "stream.snapshots" -> committed.batches.toDouble,
      "jvm.gc_ms" -> (g1 - g0).toDouble / withRows.size,
      "jvm.jit_ms" -> (j1 - j0).toDouble / withRows.size,
      "stream.generator_late_ms" -> late.take(moved).max) ++
      Pipeline.phaseMeans(progress) ++
      Trace.sparkLayers(tracedTriggers.map(p => Seq(costs(Trace.streamOp(p.id.toString, p.batchId))))) ++
      Map(
        // query executions overlap here, so these come from the analytics
        // query itself and from the triggers' progress
        "query.planning_ms" -> Stats.median(tracedRuns.map(_.hop.planning)),
        "spark.scan_rows" -> Stats.median(withRows.map(_.numInputRows.toDouble)))

    val notes = Map(
      "analytics_p50_ms" -> Stats.median(allRuns.map(_.latency)),
      "stream_rows_per_s" -> rowsIn / a.seconds,
      "rate_per_s" -> rate.toDouble,
      "trigger_ms" -> triggerMs.toDouble,
      "chunk_ms" -> chunkMs.toDouble,
      "analytics_ms" -> analyticsMs.toDouble,
      "chunks_in_window" -> fresh.size.toDouble,
      "analytics_runs" -> allRuns.size.toDouble,
      "rows_growth" -> rowsGrowth,
      "generator_late_ms" -> late.take(moved).max)
    Cycle.Part(endToEnd, layers, notes)
  }
}
