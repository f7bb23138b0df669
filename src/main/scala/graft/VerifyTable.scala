package graft

import org.apache.spark.sql.functions._
import graft.streaming.IngestJob

/** A5 — the independent table verifier (the reference's `verify_iceberg.py`:
  * re-read the materialized table through a second path, dump snapshot id,
  * schema, count, distincts, min/max, per-key counts — `verify_iceberg.py:
  * 21-67`). Usage: runMain graft.VerifyTable <tableDir> <keyCol> [tsCol]
  */
object VerifyTable {
  def main(args: Array[String]): Unit = {
    val tableDir = args(0)
    val keyCol = args(1)
    val tsCol = args.lift(2)
    val spark = Engine.session()

    val snapshots = IngestJob.committedBatches(tableDir).toSeq.sorted
    println(s"[verify-table] snapshot head: ${snapshots.lastOption.getOrElse("<none>")} (${snapshots.size} commits)")
    val df = IngestJob.readTable(spark, tableDir)
    println(s"[verify-table] schema:")
    df.schema.fields.foreach(f => println(s"  ${f.name}: ${f.dataType.simpleString}"))
    println(s"[verify-table] row count: ${df.count()}")   // C1
    df.show(5, truncate = false)                          // C2 head
    val distinct = df.select(keyCol).distinct().orderBy(keyCol) // C3
    println(s"[verify-table] distinct $keyCol: ${distinct.collect().map(_.get(0)).mkString(", ")}")
    tsCol.foreach { c =>                                   // C4 min/max
      val r = df.agg(min(col(c)).cast("string"), max(col(c)).cast("string")).head()
      println(s"[verify-table] $c range: ${r.getString(0)} .. ${r.getString(1)}")
    }
    println(s"[verify-table] per-$keyCol counts:")          // C5
    df.groupBy(keyCol).count().orderBy(keyCol).collect()
      .foreach(r => println(s"  ${r.get(0)}: ${r.getLong(1)}"))
    spark.stop()
  }
}
