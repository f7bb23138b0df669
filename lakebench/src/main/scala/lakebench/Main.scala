package lakebench

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.SparkSession

/** Command-line settings of one run; `data` holds the suite tables, `work`
  * is the directory the run may write, and a traced run writes its
  * spans to `spans`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, spans: Option[String])

/** What a workload reports. `endToEnd` and `layers` are keyed by the metric
  * names of BENCHMARK.json; `notes` are extra named figures for the log. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double], notes: Map[String, Double])

/** Checks counted into `failed`; each failure is logged with its reason. */
final class Checks {
  var attempted, failed = 0L
  def apply(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[lakebench] check failed: $what") }
    ok
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** The tail percentile every workload reports. */
  val Tail = 0.9
}

object Main {
  private val started = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[lakebench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $msg")

  /** Session profile shared by every workload: the engine defaults plus the
    * latency profile of the suite bench (AQE off, 8 shuffle partitions). */
  val profile: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), m.get("spans"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Spans as JSON lines: name, trace id, parent span, start and end (ms). */
  def writeSpans(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = Trace.spans.asScala.toSeq.map { sp =>
      s"""{"name":${q(sp.name)},"trace":${q(sp.trace)},"parent":${q(sp.parent)},""" +
        s""""start_ms":${num(sp.startMs)},"end_ms":${num(sp.endMs)}}"""
    }
    Files.write(Path.of(path), lines.asJava)
    note(s"${lines.size} spans written to $path")
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--hash-dir")) {
      val spark = graft.Engine.session(profile: _*)
      try Suite.hashDir(spark, argv(1)) finally spark.stop()
      return
    }
    val a = parse(argv)
    val spark = graft.Engine.session(profile ++ Seq(
      "spark.local.dir" -> s"${a.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${a.work}/warehouse"): _*)
    val out = try {
      val o = a.workload match {
        case "pipeline" =>
          val checks = new Checks
          val codegenMs = Cycle.warmUp(spark, a)
          val s = Stream.run(spark, a, checks)
          val c = Cycle.run(spark, a, checks)
          Outcome(checks.failed == 0, checks.attempted, checks.failed, c.endToEnd ++ s.endToEnd,
            s.layers ++ c.layers + ("query.codegen_ms" -> codegenMs), c.notes ++ s.notes)
        case "suite" => Suite.run(spark, a)
        case w => sys.error(s"unknown workload $w")
      }
      val conf = spark.conf
      val stamp = Seq(
        "master" -> s"\"${spark.sparkContext.master}\"",
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> conf.get("spark.sql.adaptive.enabled"),
        "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString) ++
        o.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }
      println("STAMP " + stamp.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"))
      o
    } finally spark.stop()
    a.spans.filter(_ => a.trace).foreach(writeSpans)
    val metrics = (if (a.trace) out.layers else out.endToEnd).toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${num(v)}" }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics}""")
  }
}
