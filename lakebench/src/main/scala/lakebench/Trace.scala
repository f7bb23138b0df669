package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExecSubqueryExpression, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `name` is the layer (module.function), `trace` groups the
  * spans of one iteration, trigger or key, `parent` is the enclosing span. */
final case class Span(name: String, trace: String, parent: String, startMs: Double, endMs: Double)

/** Spark-side cost of one operation, summed over the jobs, stages, tasks and
  * query executions attributed to it. */
final class OpCost {
  var jobs, stages, tasks = 0L
  var schedulerDelayMs, executorRunMs, shuffleReadBytes, shuffleWriteBytes = 0L
  var spillBytes, resultBytes, scanRows = 0L
  var planningMs = 0.0
}

/** In-memory tracer. Spans are recorded only while `enabled`; the Spark
  * listeners are registered by [[attach]] and removed by [[detach]], so an
  * untraced stretch of a run pays nothing for them.
  *
  * Attribution: the harness tags each of its own calls with the local
  * property [[OpKey]]; Spark copies local properties into every job it
  * submits. Micro-batch jobs run on the stream's own thread and are keyed by
  * the stream's query id and batch id instead. */
object Trace {
  val OpKey = "lakebench.op"
  private val BatchKey = "streaming.sql.batchId"
  private val QueryIdKey = "sql.streaming.queryId"

  @volatile var enabled = false
  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  private val parents = new ThreadLocal[List[String]] { override def initialValue = Nil }

  /** Run `body` as span `name` of trace `trace`, timing it whether or not
    * tracing is on; returns (result, milliseconds). */
  def timed[T](name: String, trace: String)(body: => T): (T, Double) = {
    val stack = parents.get
    parents.set(name :: stack)
    val s = nowMs
    try {
      val r = body
      val e = nowMs
      if (enabled) spans.add(Span(name, trace, stack.headOption.getOrElse(""), s, e))
      (r, e - s)
    } finally parents.set(stack)
  }

  /** Tag every Spark job submitted from this thread inside `body` with `op`.
    * An `exclusive` op runs alone, so query executions planned while it runs
    * are attributed to it by time. */
  def op[T](spark: SparkSession, op: String, exclusive: Boolean = true)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    val start = System.currentTimeMillis()
    try body
    finally {
      sc.setLocalProperty(OpKey, prev)
      if (enabled && exclusive) intervals.add((op, start, System.currentTimeMillis()))
    }
  }

  def streamOp(queryId: String, batchId: Long): String = s"trigger:$queryId:$batchId"

  // ---- listener state -------------------------------------------------------
  private val costs = new ConcurrentHashMap[String, OpCost]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val intervals = new ConcurrentLinkedQueue[(String, Long, Long)]() // (op, start, end) epoch ms
  private val pendingQe = new ConcurrentLinkedQueue[(Long, Double, Long)]() // (planned at, planningMs, scanRows)
  private val events = new AtomicLong(0)

  def cost(op: String): OpCost = costs.computeIfAbsent(op, _ => new OpCost)

  /** Remove and return the costs recorded so far, by op. */
  def drain(): Map[String, OpCost] = {
    val m = costs.asScala.toMap
    m.keys.foreach(costs.remove)
    m
  }

  /** Spark-layer metrics: each group is one unit of the workload (a pass, an
    * iteration, a trigger); reports the median over groups of group totals. */
  def sparkLayers(groups: Seq[Iterable[OpCost]]): Map[String, Double] = {
    def m(f: OpCost => Double) = Stats.median(groups.map(_.map(f).sum))
    Map(
      "query.planning_ms" -> m(_.planningMs),
      "spark.jobs" -> m(_.jobs.toDouble),
      "spark.stages" -> m(_.stages.toDouble),
      "spark.tasks" -> m(_.tasks.toDouble),
      "spark.scheduler_delay_ms" -> m(_.schedulerDelayMs.toDouble),
      "spark.executor_run_ms" -> m(_.executorRunMs.toDouble),
      "spark.shuffle_read_bytes" -> m(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> m(_.spillBytes.toDouble),
      "spark.result_bytes" -> m(_.resultBytes.toDouble),
      "spark.scan_rows" -> m(_.scanRows.toDouble))
  }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val op = (prop(QueryIdKey), prop(BatchKey)) match {
        case (Some(q), Some(b)) => Some(streamOp(q, b.toLong))
        case _ => prop(OpKey)
      }
      op.foreach { o =>
        val c = cost(o)
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
        e.stageIds.foreach(stageOp.put(_, o))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val op = stageOp.get(e.stageId)
      val m = e.taskMetrics
      if (op != null && m != null) {
        val i = e.taskInfo
        val c = cost(op)
        c.synchronized {
          c.tasks += 1
          c.executorRunMs += m.executorRunTime
          c.schedulerDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) pendingQe.add((phases.map(_.startTimeMs).min, planningMs(qe), leafRows(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Analysis + optimization + physical planning time of an executed query. */
  def planningMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble

  /** Source rows read by a physical plan: output rows of its scan leaves,
    * including scans inside subquery expressions; reused subqueries and
    * reused exchanges are not counted twice. */
  def leafRows(p: SparkPlan): Long = {
    val sub = p.expressions.flatMap(_.collect {
      case e: ExecSubqueryExpression => e.plan match {
        case _: ReusedSubqueryExec => 0L
        case sp => leafRows(sp)
      }
    }).sum
    sub + (p match {
      case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
      case s if s.children.isEmpty =>
        if (s.nodeName.contains("Scan")) s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        else 0L
      case o => o.children.map(leafRows).sum
    })
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  def detach(spark: SparkSession): Unit = {
    settle()
    enabled = false
    intervals.clear()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Wait until the asynchronous listener bus has delivered everything, then
    * fold each query execution into the exclusive op that was running when
    * it was planned. */
  def settle(): Unit = {
    var prev = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val v = events.get
      if (v == prev) stable += 1 else { stable = 0; prev = v }
    }
    val ops = intervals.asScala.toSeq
    var q = pendingQe.poll()
    while (q != null) {
      val (at, planning, rows) = q
      ops.find { case (_, s, e) => s <= at && at <= e }.map(_._1).foreach { o =>
        val c = cost(o)
        c.synchronized { c.planningMs += planning; c.scanRows += rows }
      }
      q = pendingQe.poll()
    }
  }

  // ---- JVM meters -------------------------------------------------------------
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Generated-class compilations so far and their mean compile time (ms). */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
