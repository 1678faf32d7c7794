package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's native Catalyst expressions through the PUBLIC
  * extension point (`SparkSessionExtensions.injectFunction`) — the
  * Spark-4-sanctioned way to get a custom `Expression` addressable from
  * both SQL and the Column API (`call_function`), with no `private[sql]`
  * access. Register with `SparkSession.Builder.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`; the CDC
  * engine's [[graft.GraftSession]] does not register them.
  */
object GraftExtensions {
  /** True when the active session resolves the named graft function —
    * operators use this to degrade to built-in formulations (same
    * values, slower) on sessions built without the extensions.
    */
  def available(fn: String): Boolean =
    SparkSession.getActiveSession.exists(_.catalog.functionExists(fn))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => RollingHash(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))
    // literal numHashes/seed args are extracted at resolution time
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => MinHashSigs(args(0),
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => CmsEstimate(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_any_contain"),
      new ExpressionInfo(classOf[BloomAnyContain].getName, "bloom_any_contain"),
      (args: Seq[Expression]) => BloomAnyContain(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains_long"),
      new ExpressionInfo(classOf[BloomContainsLong].getName, "bloom_contains_long"),
      (args: Seq[Expression]) => BloomContainsLong(args(0), args(1))))
    // literal parts arg extracted at resolution time (the minhash_sigs
    // convention)
    ext.injectFunction((
      new FunctionIdentifier("maxsim_score"),
      new ExpressionInfo(classOf[MaxSimScore].getName, "maxsim_score"),
      (args: Seq[Expression]) => MaxSimScore(args(0), args(1), args(2),
        args(3), args(4).eval().asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("tri_products"),
      new ExpressionInfo(classOf[TriProducts].getName, "tri_products"),
      (args: Seq[Expression]) => TriProducts(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (args: Seq[Expression]) => DeflateLen(args.head)))
  }
}
