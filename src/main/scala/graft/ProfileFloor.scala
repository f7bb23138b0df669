package graft

/** Floor profiler: splits each query's warm wall-clock into
  * build+analyze / optimize+plan / execute phases, to locate the fixed
  * per-query overhead that dominates the bench tail at small SF.
  *
  * runMain graft.ProfileFloor <q1,q2,...|all> [sfDir] [reps]
  * Confs via SPARK_GRAFT_CONF="k=v;k=v" as in Bench/RunQ.
  */
object ProfileFloor {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Engine.session(Engine.benchProfile: _*)

    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").toSeq

    // warmup: codegen + classloader + file-index
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
    }

    println(f"${"query"}%-22s ${"build"}%8s ${"plan"}%8s ${"exec"}%8s ${"total"}%8s")
    val totals = names.map { n =>
      // best-of-reps per phase to strip scheduler jitter
      val phases = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.assertAnalyzed()
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force optimize + physical planning
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      val b = phases.map(_._1).min; val p = phases.map(_._2).min; val e = phases.map(_._3).min
      println(f"$n%-22s $b%8.3f $p%8.3f $e%8.3f ${b + p + e}%8.3f")
      (b, p, e)
    }
    val (tb, tp, te) = (totals.map(_._1).sum, totals.map(_._2).sum, totals.map(_._3).sum)
    println(f"${"TOTAL"}%-22s $tb%8.3f $tp%8.3f $te%8.3f ${tb + tp + te}%8.3f")
    spark.stop()
  }
}
