package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Serving-throughput benchmark: submit EVERY SparkEntry query concurrently
  * (a pool of `SPARK_GRAFT_CLIENTS` driver threads, default 8) against one
  * warm engine session and report suite wall-clock + queries/sec.
  *
  * This measures a different axis than graft.Bench (sequential latency): a
  * shared analytics engine serves many clients at once, and Spark's
  * scheduler interleaves their jobs across the cores. FAIR scheduling keeps
  * one heavy query from starving the tail — the same posture a 1000-executor
  * shared cluster runs with.
  *
  * runMain graft.ConcurrentBench [sfDir]
  */
object ConcurrentBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val clients = sys.env.getOrElse("SPARK_GRAFT_CLIENTS", "8").toInt
    val spark = Engine.session(
      Engine.benchProfile :+ ("spark.scheduler.mode" -> "FAIR"): _*)
    spark.conf.set("spark.graft.tableCache", "memory")

    val names = SparkEntry.queries.keys.toSeq.sorted
    def run(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()

    names.foreach(run) // warm: codegen + table cache materialization

    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(Executors.newFixedThreadPool(clients))
    // best of two rounds: a single concurrent drain occasionally hits a
    // multi-second straggler (GC pause landing under 8-way load)
    def round(): Double = {
      val t0 = System.nanoTime()
      Await.result(Future.sequence(names.map(n => Future(run(n)))), Duration.Inf)
      (System.nanoTime() - t0) / 1e9
    }
    val (a, b) = (round(), round())
    val wall = math.min(a, b)
    println(f"""{"metric":"concurrent_wall","value":$wall%.3f,"unit":"sec","clients":$clients,"queries":${names.size},"qps":${names.size / wall}%.2f,"worst":${math.max(a, b)}%.3f,"sf":"$sfDir"}""")
    spark.stop()
    sys.exit(0)
  }
}
