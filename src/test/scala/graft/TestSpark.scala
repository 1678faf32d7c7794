package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** One shared local session for the whole forked test JVM: the engine's
  * [[GraftSession]] configuration plus the operator library's native
  * expressions, which the `graft.ops` suites resolve.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").withExtensions(new GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
