package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.merge.Merge

/** Bucketed variant of the lake for merge-heavy deployments
  * (SURVEY §7.1 item 4 / Merge.scala scale note): the snapshot is
  * bucketed by the record key, so every upsert's window/join reads the
  * snapshot side WITHOUT a shuffle — at 100 TB the per-tick cost drops
  * from "shuffle the touched partitions" to "shuffle the delta only"
  * (the delta is exchanged to align with the snapshot's bucketing,
  * O(delta) bytes instead of O(partition)).
  *
  * Trade-offs vs the path-based [[TableWriter]]:
  *  - requires a catalog table (bucket metadata lives in the catalog);
  *  - a commit rewrites the table (saveAsTable Overwrite) rather than
  *    only the touched day partitions — so this layout suits FEWER, BIGGER
  *    merge ticks (hourly compaction), while `TableWriter.mergeCommit`
  *    suits the 10 s CDC loop. Both are exposed; the orchestration
  *    picks per workload.
  */
object BucketedLake {

  /** Create/replace the bucketed snapshot table. With the in-memory
    * catalog, files of a same-named table from a PREVIOUS session can
    * survive in the warehouse dir without a catalog entry — clear such
    * orphaned locations or the managed-table create refuses.
    */
  def bulkWrite(lake: DataFrame, table: String, nBuckets: Int = 32,
                keyCol: String = "id", versionCol: String = "update_at"): Unit = {
    val spark = lake.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      if (java.nio.file.Files.exists(loc)) {
        import java.util.Comparator
        java.nio.file.Files.walk(loc).sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
    lake.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, keyCol)
      .sortBy(keyCol, versionCol)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Merge a delta into the bucketed snapshot. The snapshot side of the
    * latest-wins window arrives pre-bucketed by `keyCol`: `.explain`
    * shows no Exchange above the snapshot scan — only the delta is
    * shuffled into the snapshot's bucketing.
    */
  def mergeCommit(spark: SparkSession, delta: DataFrame, table: String,
                  nBuckets: Int = 32,
                  keyCol: String = "id", versionCol: String = "update_at"): Unit = {
    val staging = table + "_staging"
    // crash recovery: the DROP→RENAME swap below is not atomic. If a
    // previous commit died between the two statements, the fully-merged
    // result lives in staging and the table is gone — finishing the
    // rename FIRST restores the snapshot instead of silently
    // re-bootstrapping from the next delta alone.
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging)) {
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    }
    val merged =
      if (!spark.catalog.tableExists(table)) Merge.dedupLatest(delta, keyCol, versionCol)
      else Merge.upsertJoin(read(spark, table), delta, keyCol, versionCol)
    // stage the merge result, then swap: saveAsTable(Overwrite) on the
    // source table would otherwise read-modify-write the same files
    bulkWrite(merged, staging, nBuckets, keyCol, versionCol)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** True iff the snapshot side of `Merge.upsert` against this table
    * needs no Exchange (diagnostic used by tests and plan review).
    */
  /** Structural proof: the join's SNAPSHOT subtree contains no shuffle
    * (the delta side legitimately exchanges — dedup window + bucket
    * alignment — and that's O(delta)). AQE is disabled around plan
    * construction so the physical tree is walkable.
    */
  def snapshotSideShuffleFree(spark: SparkSession, table: String, delta: DataFrame,
                              keyCol: String = "id", versionCol: String = "update_at"): Boolean = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Merge.upsertJoin(read(spark, table), delta, keyCol, versionCol)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      joins.nonEmpty && joins.forall { j =>
        val snapshotSide = j.children.head // upsertJoin puts the snapshot left
        snapshotSide.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
