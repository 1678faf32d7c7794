package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Athena read surface, re-expressed as plain DataFrame
  * ops — no Athena/CSV materialization hop (athena.py:29-88), results
  * stay distributed.
  */
object QuerySurface {

  /** `SELECT COUNT(*) as n_rows FROM t` (athena.py:75-81 = A1). */
  def countRows(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_rows"))

  /** `SELECT DISTINCT account FROM t` (data_faker.py:64-68 = A2). */
  def distinctValues(df: DataFrame, column: String): DataFrame =
    df.select(column).distinct()

  /** Latest-k rows of one key, descending range key — the DynamoDB
    * `Query(hash_key, scan_index_forward=False, limit=k)` pattern
    * (data_faker.py:105-111 = S8/O3).
    */
  def latestOfKey(df: DataFrame, keyCol: String, key: String,
                  rangeCol: String, k: Int): DataFrame =
    df.filter(col(keyCol) === key).orderBy(col(rangeCol).desc).limit(k)

  /** The compare() oracle (compare.py:50-79 = J2): source-of-truth vs
    * lake readback. Returns (rows only in source, rows only in lake) as
    * multisets: exactly `(source.exceptAll(lake), lake.exceptAll(source))`,
    * computed with ONE exchange instead of two. The reference sorts both
    * sides and zips row-by-row; here there is no driver collect and no
    * global sort.
    *
    * Both sides are unioned by position (union type widening, left-side
    * names), each row tagged +1 (source) or -1 (lake), grouped by every
    * column, and the tags summed: a row's sum is its source count minus
    * its lake count. That is the aggregate Spark's `RewriteExceptAll`
    * builds for each `exceptAll` direction, so the semantics are the
    * same — NULL groups with NULL, NaN and -0.0 are normalised, and the
    * rows are compared exactly, never through a hash. A positive sum is
    * a source-only row repeated that many times, a negative one a
    * lake-only row.
    *
    * This is an ACTION: the non-zero sums are materialised once with an
    * eager `localCheckpoint` (zero rows when the lake is right), and both
    * returned sides are a filter and a replicate over that checkpoint, so
    * using them scans neither input again. The lake-only side carries the
    * lake's column names, as `lake.exceptAll(source)` would.
    */
  def compare(source: DataFrame, lake: DataFrame): (DataFrame, DataFrame) = {
    // positional internal names: user column names, duplicates and dots
    // included, never meet the tag or count columns
    val cols = source.columns.indices.map(i => s"c$i")
    def tagged(df: DataFrame, tag: Long) =
      df.toDF(cols: _*).withColumn("tag", lit(tag))
    val diff = tagged(source, 1L).union(tagged(lake, -1L))
      .groupBy(cols.map(col): _*).agg(sum(col("tag")).as("n"))
      .filter(col("n") =!= 0)
      .localCheckpoint()
    def side(sign: Long, names: Seq[String]) =
      diff.filter(col("n") * sign > 0)
        .withColumn("n", explode(array_repeat(lit(true), (col("n") * sign).cast("int"))))
        .select(cols.map(col): _*).toDF(names: _*)
    (side(1L, source.columns.toSeq), side(-1L, lake.columns.toSeq))
  }

  /** Convenience: true iff both relations are multiset-equal. */
  def isEqual(source: DataFrame, lake: DataFrame): Boolean = {
    val (l, r) = compare(source, lake)
    l.isEmpty && r.isEmpty
  }

  /** First-n differing rows, labeled by side — the reference prints the
    * first 10 diffs on mismatch (compare.py:66-79); distributed version
    * via limit, no driver-side zip.
    */
  def diffReport(source: DataFrame, lake: DataFrame, n: Int = 10): DataFrame = {
    val (l, r) = compare(source, lake)
    l.withColumn("side", lit("source_only"))
      .unionByName(r.withColumn("side", lit("lake_only")))
      .limit(n)
  }

  /** Classified snapshot diff: one row per key, labeled added /
    * removed / changed / unchanged, by full-outer-joining the two
    * keyed snapshots and comparing a content hash. The reconciliation
    * REPORT form of [[compare]]: compare says WHETHER the lake drifted
    * (and by which whole rows), this says per key WHERE and HOW. Both
    * inputs must be unique per key (snapshot shape, e.g.
    * Merge.dedupLatest output).
    *
    * Scale: each side's payload collapses to one 128-bit hash BEFORE
    * the join, so only (key, hash) pairs cross the exchange — never
    * content columns — and the join itself is a plain equi-join on the
    * key. Output is O(keys), streamable to a report sink. Content
    * columns are name-sorted and null-sentineled so the hash is
    * column-order- and null-safe.
    */
  def diffClassify(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    def hashed(df: DataFrame, as: String) = {
      val content = df.columns.filterNot(keys.contains).sorted.toSeq
      df.select(keys.map(col) :+ md5(concat_ws("\u001f",
        content.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)).as(as): _*)
    }
    hashed(source, "h_src").join(hashed(target, "h_tgt"), keys, "full_outer")
      .withColumn("status",
        when(col("h_tgt").isNull, lit("added"))
          .when(col("h_src").isNull, lit("removed"))
          .when(col("h_src") === col("h_tgt"), lit("unchanged"))
          .otherwise(lit("changed")))
  }
}

/** The reference's raw-SQL entry point (`run_athena_query(database,
  * sql)` — athena.py:29-64) re-expressed: register the lake as a view,
  * submit SQL strings, results stay distributed DataFrames (no CSV
  * materialization hop, no polling waiter — SURVEY §2.1 S10/T10 n/a).
  */
object SqlSurface {

  /** Register a lake path under a view name (the "database.table"),
    * read like every other lake read ([[graft.ingest.TableWriter.read]]).
    */
  def registerLake(spark: org.apache.spark.sql.SparkSession, path: String,
                   view: String = "transactions"): Unit =
    graft.ingest.TableWriter.read(spark, path).createOrReplaceTempView(view)

  /** `run_athena_query` analog: SQL in, DataFrame out. */
  def query(spark: org.apache.spark.sql.SparkSession, sql: String): DataFrame =
    spark.sql(sql)

  /** The two canned queries the reference driver issues
    * (athena.py:75-88): COUNT(*) and an ordered LIMIT preview.
    */
  def countRows(spark: org.apache.spark.sql.SparkSession, view: String): DataFrame =
    spark.sql(s"SELECT COUNT(*) AS n_rows FROM $view")

  def previewSql(spark: org.apache.spark.sql.SparkSession, view: String, n: Int): DataFrame =
    spark.sql(s"SELECT * FROM $view ORDER BY id LIMIT $n")
}
