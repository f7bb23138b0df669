package graft

/** Single-query timing: runMain graft.RunQ <queryName> [sfDir] [reps] —
  * cold + warm wall-clock for one SparkEntry query (noop write = full
  * materialization, same as Bench). */
object RunQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Engine.session(Engine.benchProfile: _*)
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[runq] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
