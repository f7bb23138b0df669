package graft
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional third
  * arg (comma-separated names) restricts the dump — local tooling only; the
  * driver always calls the 2-arg form. */
object Verify {

  /** Spark-side output-type guard — the mirror of compare.py's twin-side
    * BANNED_TYPE_MARKERS check. The driver's canonical hash compares
    * int64/float64/string/date/timestamp/bool parquet losslessly; a
    * DecimalType output column (e.g. from `BIGINT / 10000.0`, which Spark
    * parses as decimal division) ships fixed-point bytes that hash
    * differently from the twin's DOUBLE even when every value is identical —
    * the defect class that shipped x47 red in round 6 (twin side) and
    * q43/q44 red in round 11 (Spark side). Returns (column, type) pairs the
    * gate cannot compare; a query with any is failed loudly, never written. */
  def badOutputColumns(schema: StructType): Seq[(String, String)] = {
    def bad(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case ArrayType(et, _) => bad(et)
      case MapType(k, v, _) => bad(k) || bad(v)
      case st: StructType => st.fields.exists(f => bad(f.dataType))
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: StringType | _: BooleanType |
           _: DateType | _: TimestampType | _: TimestampNTZType | _: BinaryType => false
      case _ => true // CalendarInterval, YearMonthInterval, char/varchar… — not hash-comparable
    }
    schema.fields.toSeq.collect {
      case f if bad(f.dataType) => (f.name, f.dataType.sql)
    }
  }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // the engine session (same extensions, confs and catalog as every
    // main); SPARK_GRAFT_CONF lets the gate run in alternate configurations
    // (e.g. tableSource=graft — the whole suite through the DSv2 connector)
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val bad = badOutputColumns(df.schema)
          if (bad.nonEmpty)
            // refuse to write: a DECIMAL output would hash-mismatch a
            // value-identical twin, so surface it as a loud failure instead
            throw new IllegalStateException(
              "BAD-OUTPUT-TYPE " + bad.map { case (c, t) => s"$c:$t" }.mkString(", "))
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally
          // query-exit hygiene (r17): release this query's eager
          // localCheckpoint blocks — a 207-query session otherwise
          // accumulates them in the storage pool (see Engine scaladoc)
          Engine.reapLocalCheckpoints(spark)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
