package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.Merge

/** Hash-bucket-partitioned lake: records live in `bucket=N` directory
  * partitions keyed by a stable content hash of the record key (the
  * Hudi bucket-index layout). Completes the merge-cost matrix next to
  * the other two writers:
  *
  *  - [[TableWriter]]  — date-partitioned, rewrites the touched DAYS
  *    (appends their new files, then deletes the old): right when
  *    updates cluster in recent dates; degrades to many touched
  *    partitions when updates scatter across history.
  *  - [[BucketedLake]] — catalog-bucketed: shuffle-FREE snapshot joins,
  *    but every commit rewrites the table → compaction cadence only.
  *  - `HashBucketLake` — per tick reads AND rewrites only the buckets
  *    the delta's keys hash into, wherever in history those records
  *    are: O(touched buckets) regardless of update recency. The merge
  *    join still shuffles, but only the touched buckets' rows enter
  *    the plan at all (directory-level partition pruning).
  *
  * The bucket function is md5-based (not xxhash64) deliberately: it is
  * reproducible in any engine, so bucket assignment itself is part of
  * the oracle-checkable surface.
  */
object HashBucketLake {

  /** Stable bucket id: first 8 md5 hex digits of the key, mod nBuckets.
    * A null key hashes like the empty string rather than propagating
    * null — otherwise null-key rows would land in the Hive default
    * partition, escape touched-bucket pruning, and NPE the driver-side
    * touched-bucket listing.
    */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 8), 16, 10)
      .cast("long"), lit(nBuckets.toLong))

  def bulkWrite(lake: DataFrame, dir: String, nBuckets: Int = 8,
                keyCol: String = "id", versionCol: String = "update_at"): Unit =
    lake.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
      .repartition(col("bucket"))
      .sortWithinPartitions(col(keyCol), col(versionCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("basePath", dir).parquet(dir)

  /** Upsert a delta touching only the buckets its keys hash into.
    *
    * Steps: (1) bucket the delta; (2) collect its distinct bucket ids —
    * driver-side but bounded by nBuckets, never by data; (3) read ONLY
    * those bucket directories (partition pruning on the `bucket`
    * column); (4) latest-wins merge; (5) dynamic-partition-overwrite —
    * replaces exactly the touched `bucket=N` dirs, untouched buckets'
    * files are never opened or rewritten.
    *
    * `tiebreak` resolves equal-(key, version) duplicates INSIDE one
    * delta (e.g. `Seq(col("event_id").desc)` to match a bulk load's
    * convention); across delta-vs-snapshot the arriving delta wins, as
    * everywhere else in the Merge API.
    *
    * NOT transactional: the dynamic overwrite rewrites each touched
    * `bucket=N` dir independently, so a crash mid-commit can leave
    * buckets at mixed versions with no timeline to detect or roll back
    * — unlike the Hudi bucket-index layout this mirrors, whose commit
    * timeline makes the tick atomic. Re-running the same mergeCommit
    * heals the lake (the merge is idempotent); a production deployment
    * would stage to a temp dir + rename or add a commit manifest.
    */
  def mergeCommit(spark: SparkSession, delta: DataFrame, dir: String,
                  nBuckets: Int = 8,
                  keyCol: String = "id", versionCol: String = "update_at",
                  tiebreak: Seq[Column] = Seq.empty): Unit = {
    val deltaB = delta.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
    // Hadoop FileSystem, not java.io.File: the lake dir is a Hadoop
    // path (s3a/hdfs/file), and a local-only check would misread any
    // non-local deployment as empty and bulk-overwrite it.
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      Merge.dedupLatest(deltaB, keyCol, versionCol, tiebreak)
        .repartition(col("bucket"))
        .sortWithinPartitions(col(keyCol), col(versionCol))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)
      return
    }
    val touched = deltaB.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted // ≤ nBuckets rows by construction
    val snapshot = read(spark, dir).filter(col("bucket").isin(touched: _*))
    val merged = Merge.upsertJoin(snapshot,
      Merge.dedupLatest(deltaB, keyCol, versionCol, tiebreak), keyCol, versionCol)
    merged
      .repartition(col("bucket"))
      .sortWithinPartitions(col(keyCol), col(versionCol))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(dir)
  }
}
