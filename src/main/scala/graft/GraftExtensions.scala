package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.{FloatDot, FloatPrefixDots, H60, H60Array, MinHashSigs, SimHash64}

/** SparkSessionExtensions entry point (SURVEY §4's reserved extension seam):
  * registers the engine's custom Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT float_dot(a, b) ...")` works next to the Column API.
  *
  * Wire up with:
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * or config: spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(graft.plans.PresentationSortRule.apply)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], usage: String)(
      build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name, usage), build)

  /** An argument that must be a non-NULL integral literal within Int range;
    * anything else (NULL, `8.5`, `'8x'`, a column) fails with a message
    * naming the function and the argument. */
  private def intLiteral(function: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Short, ShortType) => v.toInt
    case Literal(v: Byte, ByteType) => v.toInt
    case Literal(v: Long, LongType) if v.isValidInt => v.toInt
    case other => throw new IllegalArgumentException(
      s"$function: $arg must be an integer literal, got $other")
  }

  /** The SQL functions [[GraftExtensions]] injects, one list so every
    * registration site uses the same builders. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("float_dot", classOf[FloatDot],
      "float_dot(a, b) - double-precision dot product of two float arrays")(
      es => FloatDot(es(0), es(1))),
    fn("float_prefix_dots", classOf[FloatPrefixDots],
      "float_prefix_dots(a, b, b1, b2, ...) - prefix dot products of two " +
        "float arrays at ascending literal boundaries, one pass")(
      es => FloatPrefixDots(es(0), es(1),
        es.drop(2).map(intLiteral("float_prefix_dots", "bounds", _)))),
    fn("simhash64", classOf[SimHash64],
      "simhash64(hashes) - 64-bit SimHash of an array<long> of token hashes")(
      es => SimHash64(es(0))),
    fn("minhash_sigs", classOf[MinHashSigs],
      "minhash_sigs(shingles, n) - n MinHash signature values of an array<string>")(
      es => MinHashSigs(es(0), intLiteral("minhash_sigs", "numHashes", es(1)))),
    fn("h60", classOf[H60],
      "h60(s) - 60-bit engine-parity content hash (top bits of md5), " +
        "DuckDB twin: CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)")(
      es => H60(es(0))),
    fn("h60_array", classOf[H60Array],
      "h60_array(arr) - element-wise h60 over an array<string>")(
      es => H60Array(es(0))))
}
