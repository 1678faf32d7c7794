package graft

/** Diagnostic main: read every test table, print schema + count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { n =>
      try {
        val df = Tables.load(spark, sfDir, n)
        println(s"[smoke] $n count=${df.count()} schema=${df.schema.simpleString}")
        df.show(2, truncate = 60)
      } catch {
        case e: Throwable => println(s"[smoke] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
