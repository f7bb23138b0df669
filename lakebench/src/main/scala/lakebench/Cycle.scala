package lakebench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.Engine
import graft.streaming.{AnalyticsPipeline, FileTopic, IngestJob, TradeGen, Topics}

/** Committed snapshot-log totals of a table. */
final case class Commits(batches: Int, rows: Long, rejects: Long)

object Commits {
  private val Line = """\{"batch":(\d+),"rows":(\d+),"rejects":(\d+)""".r.unanchored
  def read(tableDir: String): Commits = {
    val log = Paths.get(tableDir, "_snapshots.jsonl")
    val lines = if (Files.exists(log)) Files.readAllLines(log).asScala.toSeq else Nil
    val parsed = lines.collect { case Line(_, r, j) => (r.toLong, j.toLong) }
    Commits(parsed.size, parsed.map(_._1).sum, parsed.map(_._2).sum)
  }
}

/** Shared pieces of the trades pipeline: the ingest and analytics hops, the
  * reference cycle's column lists, and the per-trigger progress figures. */
object Pipeline {
  val tradeRequired = Seq("trade_id", "symbol", "price", "qty", "side", "ts_event")
  val analyticsRequired = Seq("symbol", "trade_count", "avg_price", "total_volume")
  val phases = Seq("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
    "latestOffset", "triggerExecution")

  def startTrades(spark: SparkSession, topic: FileTopic, dir: String, trigger: Trigger): StreamingQuery =
    IngestJob.start(spark, topic, s"$dir/tables/trades", AnalyticsPipeline.tradeSchema,
      tradeRequired, "ts_event", s"$dir/ckpt/trades", trigger)

  def startAnalytics(spark: SparkSession, topic: FileTopic, dir: String, trigger: Trigger): StreamingQuery =
    IngestJob.start(spark, topic, s"$dir/tables/trade_analytics", AnalyticsPipeline.analyticsSchema,
      analyticsRequired, "first_trade_time", s"$dir/ckpt/trade_analytics", trigger)

  /** Canonical rendering of analytics rows, in tradeStats column order. */
  def render(df: DataFrame): Seq[String] = render(df.collect().toSeq, df.columns.toSeq)
  def render(rows: Seq[Row], cols: Seq[String]): Seq[String] = {
    val order = AnalyticsPipeline.analyticsSchema.fieldNames.toSeq
    rows.map(r => order.map(c => String.valueOf(r.get(cols.indexOf(c)))).mkString("|")).sorted
  }

  /** Milliseconds of each step of one analytics hop. */
  final case class Hop(rows: Seq[String], readTable: Double, tradeStats: Double, publish: Double,
      reap: Double, planning: Double, scanRows: Long)

  /** The analytics hop, as the reference's query-and-publish loop does it:
    * read the live table, aggregate, collect, publish the result to the
    * analytics topic, then release the query's checkpoint blocks. */
  def analytics(spark: SparkSession, tableDir: String, topic: FileTopic, trace: String): Hop = {
    val (df, readMs) = Trace.timed("IngestJob.readTable", trace)(IngestJob.readTable(spark, tableDir))
    val stats = AnalyticsPipeline.tradeStats(df)
    val (rows, statsMs) = Trace.timed("AnalyticsPipeline.tradeStats", trace)(stats.collect())
    val local = spark.createDataFrame(rows.toSeq.asJava, stats.schema)
    val (_, pubMs) = Trace.timed("Topics.publish", trace)(topic.publish(Topics.envelope(local, "symbol")))
    val (_, reapMs) = Trace.timed("Engine.reap", trace)(Engine.reapLocalCheckpoints(spark))
    Hop(render(rows.toSeq, stats.columns.toSeq), readMs, statsMs, pubMs, reapMs,
      Trace.planningMs(stats.queryExecution), Trace.leafRows(stats.queryExecution.executedPlan))
  }

  /** Mean of each progress phase over the triggers that carried rows. */
  def phaseMeans(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val withRows = ps.filter(_.numInputRows > 0)
    phases.map { ph =>
      s"IngestJob.${ph}_ms" -> Stats.mean(withRows.map(p =>
        Option(p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0)))
    }.toMap
  }

  /** Median trigger time of the last quarter of triggers / the first quarter. */
  def triggerGrowth(ps: Seq[StreamingQueryProgress]): Double = {
    val t = ps.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").doubleValue)
    val q = math.max(1, t.size / 4)
    if (t.size < 4) 1.0 else Stats.median(t.takeRight(q)) / Stats.median(t.take(q))
  }

  /** Spark jobs per trigger that carried rows, from the costs of a traced
    * stretch keyed by op. */
  def jobsPerTrigger(costs: Map[String, OpCost], ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.filter(_.numInputRows > 0).map { p =>
      costs.get(Trace.streamOp(p.id.toString, p.batchId)).map(_.jobs.toDouble).getOrElse(0.0)
    }
}

/** The reference's bidirectional cycle in bulk, as a closed loop: produce N
  * seeded trades, ingest them (AvailableNow), run the analytics query,
  * publish it, re-ingest it and re-query the analytics table. Each iteration
  * uses a fresh work dir, removed outside the timed window. */
object Cycle {
  val trades = 80000L
  val warmTrades = 2000L
  val iterations = 2

  final case class Hops(produce: Double, ingest: Double, hop: Pipeline.Hop, reingest: Double,
      requery: Double, wall: Double,
      committed: Commits, progress: Seq[StreamingQueryProgress], requeried: Seq[String],
      costs: Map[String, OpCost] = Map.empty)

  def iteration(spark: SparkSession, dir: String, n: Long, seed: Long, trace: String): Hops = {
    val tradesTopic = FileTopic(s"$dir/topics/trades")
    val analyticsTopic = FileTopic(s"$dir/topics/trade_analytics")
    var r: Hops = null
    val (_, wall) = Trace.timed("cycle.iteration", trace) {
      Trace.op(spark, trace) {
        val (_, produce) = Trace.timed("TradeGen.produce", trace)(TradeGen.produce(spark, tradesTopic, n, seed))
        val (q1, ingest) = Trace.timed("IngestJob.ingest", trace) {
          val q = Pipeline.startTrades(spark, tradesTopic, dir, Trigger.AvailableNow())
          q.awaitTermination()
          q
        }
        val hop = Pipeline.analytics(spark, s"$dir/tables/trades", analyticsTopic, trace)
        val (_, reingest) = Trace.timed("IngestJob.reingest", trace) {
          Pipeline.startAnalytics(spark, analyticsTopic, dir, Trigger.AvailableNow()).awaitTermination()
        }
        val (requeried, requery) = Trace.timed("IngestJob.requery", trace) {
          Pipeline.render(IngestJob.readTable(spark, s"$dir/tables/trade_analytics"))
        }
        r = Hops(produce, ingest, hop, reingest, requery, 0.0,
          Commits.read(s"$dir/tables/trades"), q1.recentProgress.toSeq, requeried)
      }
    }
    r.copy(wall = wall)
  }

  /** Figures of one measured part of a workload. */
  final case class Part(endToEnd: Map[String, Double], layers: Map[String, Double],
      notes: Map[String, Double])

  /** [[iterations]] bulk cycles of [[trades]]; in a traced run only the
    * first iteration is traced, and the others give the tracing overhead. */
  /** One untimed cycle on the cold JVM: compiles every code path the
    * pipeline takes. Returns the generated-code compile milliseconds it caused. */
  def warmUp(spark: SparkSession, a: Args): Double = {
    val (c0, _) = Trace.codegen
    val dir = s"${a.work}/cycle/warm"
    Main.note(f"cycle warm-up: ${iteration(spark, dir, warmTrades, a.seed, "warm").wall}%.0f ms")
    Main.deleteTree(Paths.get(dir))
    val (c, mean) = Trace.codegen
    (c - c0) * mean
  }

  def run(spark: SparkSession, a: Args, checks: Checks): Part = {
    def dir(i: String) = s"${a.work}/cycle/$i"
    def clean(i: String): Unit = Main.deleteTree(Paths.get(dir(i)))
    // the independent batch aggregation every re-queried table must equal
    val expected = Pipeline.render(AnalyticsPipeline.tradeStats(TradeGen.trades(spark, trades, a.seed)))

    val its = (0 until iterations).map { i =>
      val traced = a.trace && i == 0
      if (traced) Trace.attach(spark)
      val h0 = iteration(spark, dir(s"it$i"), trades, a.seed, s"it:$i")
      if (traced) Trace.detach(spark)
      val h = if (traced) h0.copy(costs = Trace.drain()) else h0
      Main.note(f"cycle $i: ${h.wall}%.0f ms (produce ${h.produce}%.0f, ingest ${h.ingest}%.0f, " +
        f"readTable ${h.hop.readTable}%.0f, tradeStats ${h.hop.tradeStats}%.0f, publish ${h.hop.publish}%.0f, " +
        f"reingest ${h.reingest}%.0f, requery ${h.requery}%.0f)")
      clean(s"it$i")
      checks(s"cycle $i re-query != batch aggregation", h.requeried == expected)
      checks(s"cycle $i committed ${h.committed}", h.committed.rows == trades && h.committed.rejects == 0)
      val totalCount = h.requeried.map(_.split('|')(1).toLong).sum
      checks(s"cycle $i sum(trade_count) $totalCount != $trades", totalCount == trades)
      h
    }

    val walls = its.map(_.wall)
    // committed rows from the snapshot log, not the source's numInputRows
    val rowsPerS = its.map(h => h.committed.rows / (h.ingest / 1e3))
    val traced = if (a.trace) its.take(1) else its
    def med(f: Hops => Double) = Stats.median(traced.map(f))
    val inputRows = traced.flatMap(_.progress).map(_.numInputRows).sum.toDouble
    // best iteration: a co-tenant burst only ever slows one down
    Part(
      Map("pass_s" -> walls.min / 1e3, "rows_per_s" -> rowsPerS.max),
      Map(
        "TradeGen.produce_ms" -> med(_.produce),
        "Topics.publish_ms" -> med(_.hop.publish),
        "IngestJob.ingest_ms" -> med(_.ingest),
        "IngestJob.reingest_ms" -> med(_.reingest),
        "IngestJob.read_amplification" -> inputRows / traced.map(_.committed.rows).sum,
        "trace.overhead_pct" -> (walls.head / Stats.median(walls.tail) - 1) * 100),
      Map("cycle_s" -> walls.min / 1e3, "cycle_ingest_rows_per_s" -> rowsPerS.max,
        "trades" -> trades.toDouble, "cycle_iterations" -> its.size.toDouble))
  }
}
