package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Batch ingestion: initial-load derivations and CDC landing.
  *
  * Spark-first replacement for the reference's two Glue jobs' transform
  * sections (glue_jobs/initial_load.py:124-153,
  * glue_jobs/incremental.py:118-148) and the stream consumer's
  * minute-partitioned landing (dynamodb_stream_consumer.py:62-90).
  */
object Ingest {

  /** Synthetic record key: `"account:" + account + ",create_at:" + create_at`
    * (initial_load.py:124-133, dynamodb_table.py:31-44).
    */
  def withId(df: DataFrame): DataFrame =
    df.withColumn("id", concat(
      lit("account:"), col("account"), lit(",create_at:"), col("create_at")))

  /** 5-level partition columns by fixed-offset substring of the
    * zero-padded ISO string (initial_load.py:134-153). The substring
    * trick is deliberate: it never parses the timestamp, so it is
    * codegen-friendly and immune to format/locale drift — but it REQUIRES
    * the validated wire format (Schemas.TsPattern); we enforce it with an
    * explicit schema instead of inference.
    */
  def withPartitionColumns(df: DataFrame, src: String = "create_at"): DataFrame =
    df.withColumn("create_year", substring(col(src), 1, 4))
      .withColumn("create_month", substring(col(src), 6, 2))
      .withColumn("create_day", substring(col(src), 9, 2))
      .withColumn("create_hour", substring(col(src), 12, 2))
      .withColumn("create_minute", substring(col(src), 15, 2))

  /** Full initial-load transform: flat rows -> 13-column lake rows. */
  def toLakeRows(flat: DataFrame): DataFrame = {
    val derived = withPartitionColumns(withId(flat))
    derived.select("id", "account", "create_at", "update_at", "entity",
      "amount", "is_credit", "note", "create_year", "create_month",
      "create_day", "create_hour", "create_minute")
  }

  /** Initial load: read the processed export (gzip JSON-lines of flat
    * rows, explicit schema — never inferred) and derive the lake shape.
    * Replaces initial_load.py:95-153 (DynamicFrame scan + withColumns).
    */
  def initialLoad(spark: SparkSession, dir: String): DataFrame =
    toLakeRows(spark.read.schema(Schemas.flatCdcRow)
      .option("recursiveFileLookup", "true").json(dir))

  /** CDC landing: minute-partitioned JSON-lines keyed by update_at
    * (dynamodb_stream_consumer.py:62-90). NOTE the reference asymmetry:
    * landing partitions derive from update_at (arrival window), lake
    * partitions from create_at (event time) — SURVEY.md §1.2.
    *
    * At 100 TB, minute-level dirs in the LAKE would be tiny-file
    * pathological; minute granularity is kept only here in the transient
    * landing zone, which is pruned by the orchestrator's time-range scan
    * and compacted away by the merge job.
    */
  def landCdc(events: DataFrame, dir: String): Unit = {
    val partitioned = events
      .withColumn("year", substring(col("update_at"), 1, 4))
      .withColumn("month", substring(col("update_at"), 6, 2))
      .withColumn("day", substring(col("update_at"), 9, 2))
      .withColumn("hour", substring(col("update_at"), 12, 2))
      .withColumn("minute", substring(col("update_at"), 15, 2))
    // hash-repartition on the partition columns: each minute's rows
    // land in exactly one task, so the dynamic partitionBy write emits
    // ONE file per minute dir (the bounded-small-files contract) while
    // the write itself parallelizes across executors — a caller-side
    // coalesce(1) enforced the same file layout serially, which at
    // 100 TB/day of CDC would bottleneck the whole landing path on a
    // single task
    partitioned
      .repartition(col("year"), col("month"), col("day"),
        col("hour"), col("minute"))
      .write
      .partitionBy("year", "month", "day", "hour", "minute")
      .mode("append").json(dir)
  }

  /** Read back a set of landed CDC files (explicit file list, like the
    * incremental Glue job's manifest-driven scan — incremental.py:103-110).
    */
  def readCdcFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(Schemas.flatCdcRow).json(paths: _*)

  /** Landing-zone retention: delete minute partitions the merge has
    * already absorbed (relative partition path <= the tracker cursor,
    * i.e. `CdcTracker.State.lastProcessedPartition` — the cursor is the
    * last minute INSIDE the processed half-open range, so `<=` is
    * exact). The reference leans on S3 lifecycle rules for this; an
    * explicit idempotent cleanup keeps the transient landing zone from
    * accumulating minute-dirs forever. Driver-side listing is O(dirs) —
    * the same order of work as the tracker's own partition listing —
    * through `dir`'s Hadoop `FileSystem` under the active session's
    * Hadoop configuration, so `dir` may be a plain path or any Hadoop
    * URI. Directories emptied by the prune go too, never `dir` itself.
    * Returns the number of minute partitions removed.
    */
  def pruneLanding(dir: String, throughPartition: String): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    // deletes the absorbed minute dirs under `d`, then `d` itself once
    // nothing is left in it (never the root); returns the minute dirs
    // removed and whether `d` is gone
    def prune(d: Path, rel: String): (Int, Boolean) = {
      val children = fs.listStatus(d)
      val pruned = children.filter(_.isDirectory).map { c =>
        val name = c.getPath.getName
        val cRel = if (rel.isEmpty) name else s"$rel/$name"
        if (name.startsWith("minute=") && cRel <= throughPartition) (1, fs.delete(c.getPath, true))
        else prune(c.getPath, cRel)
      }
      val gone = rel.nonEmpty && pruned.count(_._2) == children.length && fs.delete(d, true)
      (pruned.map(_._1).sum, gone)
    }
    prune(root, "")._1
  }
}

/** Idempotent lake writer emulating Hudi COPY_ON_WRITE semantics with
  * plain Parquet (no Hudi jar in this environment — SURVEY.md §7).
  * Dynamic partition overwrite rewrites only the partitions present in
  * the incoming batch, which is what Hudi COW does per commit.
  */
object TableWriter {
  import graft.merge.Merge

  val partitionCols: Seq[String] =
    Seq("create_year", "create_month", "create_day")

  /** Bulk write (initial load): full overwrite, like Hudi
    * `mode("overwrite")` (initial_load.py:163-186). Lake layout coarsens
    * to day-level partitions (SURVEY.md §7.6 item 5): minute-level dirs
    * at 100 TB mean ~5e5 dirs/year × tiny files; day-level keeps pruning
    * effective with healthy file sizes.
    */
  def bulkWrite(lake: DataFrame, path: String, codec: String = "snappy"): Unit =
    lake.write.option("compression", codec)
      .partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Upsert commit: merge result written with dynamic partition
    * overwrite — only partitions present in `merged` are replaced.
    */
  def upsertWrite(merged: DataFrame, path: String): Unit =
    merged.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite").parquet(path)

  /** A disjunction of partition-column equalities for the distinct
    * partitions present in `delta` ([[touchedPartitions]], collected to
    * the driver: one tuple per touched DAY; a CDC tick caps at 100
    * minute-files, so a handful of days at most) for a lake scan, where
    * Catalyst turns it into partition-directory pruning.
    */
  def touchedPartitionsPredicate(delta: DataFrame): Option[Column] =
    Some(touchedPartitions(delta)).filter(_.nonEmpty).map(partitionsPredicate)

  private def partitionsPredicate(parts: Seq[Seq[String]]): Column =
    parts.map { p =>
      partitionCols.zip(p)
        // null-safe <=>: a null partition value (__HIVE_DEFAULT_PARTITION__)
        // must still select its existing versions, or merging silently
        // duplicates those keys
        .map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)

  /** The distinct `partitionCols` values of `delta` in ONE shuffle-free
    * job: every task dedups its own rows, the driver dedups the few
    * collected tuples (one per touched day per task). A `distinct()`
    * would plan a shuffle, which AQE runs as two jobs. Empty iff the
    * delta has no rows. A null value stays null.
    */
  private def touchedPartitions(delta: DataFrame): Seq[Seq[String]] = {
    val idx = partitionCols.indices
    delta.select(partitionCols.map(col): _*).rdd
      .mapPartitions(_.map(r => idx.map(r.getString)).toSet.iterator)
      .collect().distinct.toSeq
  }

  /** The O(delta)-cost upsert commit — the scale path for the CDC loop.
    *
    * The lake is partitioned by create_* which derive from `create_at`,
    * an IMMUTABLE component of the record key `id` (initial_load.py:
    * 124-153: id = account + create_at). Hence every existing version of
    * a delta key lives in a partition the delta itself names — reading
    * only the delta's partition directories loses nothing, and the merge
    * is exact while doing O(touched partitions) work per commit instead
    * of O(table) (at 100 TB: a few GB read+rewritten per tick, not the
    * lake).
    *
    * A commit into an existing lake is three Spark jobs. Job one is
    * [[touchedPartitions]], a shuffle-free pass over the delta that also
    * decides emptiness: an empty delta is a no-op that neither creates
    * nor rewrites anything. Job two is the shuffle map stage of the
    * single upsert window ([[graft.merge.Merge.upsert]]), reading the
    * delta and the snapshot slice. The slice is read with the delta's
    * own schema (no parquet schema-inference job; partition columns stay
    * the zero-padded strings, see [[read]]) from exactly the touched
    * partition directories that exist, under `basePath = path`. Their
    * names come from Spark's own partition-path escaping, so a null
    * value finds its `__HIVE_DEFAULT_PARTITION__` rows. Job three is the
    * dynamic-overwrite write of the window's output. Because the slice
    * takes the delta's schema, the delta must carry exactly the lake's
    * columns ([[Ingest.toLakeRows]]): a lake column it lacked would be
    * dropped from every rewritten partition.
    *
    * Writing straight from a plan that reads `path` is safe, with no
    * copy of the slice first: dynamic partition overwrite does not
    * delete partition directories before the job (only static mode
    * does), task output goes to `path/.spark-staging-<job>`, and the
    * touched partitions are swapped in only at job commit. By then the
    * shuffle map stage — the only stage that reads the snapshot — has
    * finished, and a retried reduce task re-reads shuffle output or,
    * on fetch failure, the still-unswapped snapshot files.
    */
  def mergeCommit(spark: SparkSession, delta: DataFrame, path: String,
                  keyCol: String = "id", versionCol: String = "update_at"): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.generatePartitionPath
    val touched = touchedPartitions(delta)
    if (touched.isEmpty) return
    val lake = new Path(path)
    // the path's own FileSystem, not java.io.File: a Hadoop URI
    // (file:/, hdfs://, s3a://) never exists as a local file, and a
    // wrong "absent" here would bulk-overwrite the whole lake
    val fs = lake.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lake)) {
      // bootstrap: the first delta IS the table — but it can still carry
      // several versions of one key, so it gets the same in-batch dedup
      // a merge would apply
      bulkWrite(Merge.dedupLatest(delta, keyCol, versionCol), path)
    } else {
      val dirs = touched
        .map(p => generatePartitionPath(partitionCols.zip(p).toMap, partitionCols, lake))
        .filter(fs.exists)
      val snapshotSlice =
        if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), delta.schema)
        else spark.read.schema(delta.schema).option("basePath", path)
          .parquet(dirs.map(_.toString): _*)
      upsertWrite(Merge.upsert(snapshotSlice, delta, keyCol, versionCol), path)
    }
  }

  /** Read the lake with its fixed row schema, [[Schemas.lakeRow]]: one
    * scan job, with no parquet schema-inference job before it. A lake
    * file that lacks one of its columns reads it as null; a column
    * outside it is not read.
    *
    * The schema also pins the partition columns to their canonical
    * zero-padded STRING form. A session with partition type inference
    * enabled (the Spark default; GraftSession disables it) would read
    * `create_day=08` back as int 8 — and a subsequent dynamic-overwrite
    * write would then create `create_day=8` BESIDE the existing
    * `create_day=08`, silently duplicating the partition's rows on read
    * (both dirs parse to the same logical value). Every TableWriter
    * write path reads the lake with string partition columns — this
    * read, or [[mergeCommit]]'s slice read with the delta's schema — so
    * the library is safe on any session, not just GraftSession.
    *
    * A user-specified schema disables partition type inference for that
    * read, so the directory string `08` survives as-is AND the
    * `create_*` columns remain genuine partition columns — filters on
    * them (a [[touchedPartitionsPredicate]], compaction's day predicate)
    * still prune at the directory level. A `withColumn` rewrite would
    * have silently turned those O(delta) scans into O(table) post-scan
    * filters on inference-enabled sessions.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.lakeRow).parquet(path)

  /** Small-file compaction for one day partition: every 10 s merge tick
    * adds a few files to each touched day, so a hot partition
    * accumulates thousands of small files over days — the classic CDC
    * lake pathology. Rewrite just that partition into `targetFiles`
    * files via the same dynamic-overwrite path a merge commit uses:
    * O(partition) IO, untouched partitions keep their files, readers
    * see the old file set until the atomic-per-file swap completes.
    * Run on a compaction cadence (hourly/daily), not per tick.
    */
  def compactPartition(spark: SparkSession, path: String,
                       year: String, month: String, day: String,
                       targetFiles: Int = 1): Unit = {
    val pred = col("create_year") === year &&
      col("create_month") === month && col("create_day") === day
    val slice = read(spark, path).filter(pred).coalesce(targetFiles)
    // localCheckpoint breaks the read-from/write-to-same-path cycle;
    // cost is O(this partition), never the table
    upsertWrite(slice.localCheckpoint(), path)
  }

  /** Right-to-be-forgotten purge: delete every lake row whose `keyCol`
    * is in `keys`, rewriting ONLY the partitions that can contain those
    * keys — O(touched partitions), never a table scan.
    *
    * Works because the record key embeds its immutable `create_at`
    * (initial_load.py:124-133), the same invariant [[mergeCommit]]
    * leans on: the key set itself NAMES its partitions, so the touched
    * set derives from the keys alone (no lake read to locate them).
    * Inside each touched partition the survivors are a broadcastable
    * anti-join (the purge set is small — a user's keys, not a corpus).
    *
    * Dynamic partition overwrite cannot DELETE a partition that ends up
    * empty (it only replaces partitions present in the written data),
    * so fully-purged partitions are removed explicitly through the
    * Hadoop FileSystem — without this, readers would keep seeing every
    * purged row of any partition the purge emptied.
    */
  def purgeKeys(spark: SparkSession, path: String, keys: DataFrame,
                keyCol: String = "id"): Unit = {
    val withTs = keys.select(col(keyCol).as("__k"),
      substring_index(col(keyCol), ",create_at:", -1).as("create_at"))
    // fail LOUDLY if any key lacks the synthetic-id suffix (custom
    // keyCol, malformed id): the partition predicate derived from a bad
    // extraction matches nothing and the RTBF purge would silently
    // delete nothing — a silent compliance failure. Purge sets are
    // small (a user's keys), so this extra pass is cheap.
    val bad = withTs.filter(!col("create_at").rlike(Schemas.TsRegex)).count()
    require(bad == 0,
      s"purgeKeys: $bad key(s) do not embed a ',create_at:<${Schemas.TsPattern}>' " +
        "suffix; refusing to purge (the derived partition predicate would be wrong)")
    val withParts = Ingest.withPartitionColumns(withTs)
    val touched = touchedPartitions(withParts)
    if (touched.nonEmpty) {
      val slice = read(spark, path).filter(partitionsPredicate(touched))
      val kept = slice.join(
          broadcast(keys.select(col(keyCol).as("__k")).distinct()),
          slice(keyCol) === col("__k"), "left_anti")
        .localCheckpoint()
      val surviving = touchedPartitions(kept).toSet
      upsertWrite(kept, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(surviving).foreach { p =>
        val dir = partitionCols.zip(p).map { case (c, v) => s"$c=$v" }
          .mkString(path + "/", "/", "")
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      }
    }
  }
}
