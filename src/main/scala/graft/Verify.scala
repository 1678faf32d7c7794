package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [queryName...] — with names given, only
  * those queries run (oracle_sql.json is filtered to match), which makes
  * the tools/compare.py loop fast when iterating on one operator.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — check SparkEntry.queries")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The driver's comparator sorts rows with pandas, which cannot
        // hash array/map cells: an oracle-checked query returning one
        // would err at the gate. Fail loudly here instead.
        if (SparkEntry.oracleSql.contains(name)) {
          val bad = df.schema.fields.filter(f =>
            f.dataType.typeName == "array" || f.dataType.typeName == "map")
          require(bad.isEmpty, s"oracle-checked query $name returns " +
            s"non-comparable column(s) ${bad.map(_.name).mkString(",")}: " +
            "serialize with array_join/to_json before registering")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release blocks persisted inside the query: a session that runs
      // every registered query would otherwise accumulate them
      spark.catalog.clearCache()
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Absence from the correctness artifact must be LOUD, not a silent
    // skip: every registered query either wrote its parquet or this run
    // exits nonzero naming the ones that didn't. (Round 7 lost 71
    // queries to one analysis error that only surfaced as missing rows.)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED ${failed.size}/${selected.size} queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
