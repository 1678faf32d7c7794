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

  /** 5-level partition columns `create_year…create_minute` from `src`
    * ([[withMinuteColumns]]; initial_load.py:134-153).
    */
  def withPartitionColumns(df: DataFrame, src: String = "create_at"): DataFrame =
    withMinuteColumns(df, src, "create_")

  /** The five columns `year`, `month`, `day`, `hour`, `minute`, each
    * named with `prefix`, by fixed-offset substring of the zero-padded
    * ISO string in `src`. The substring trick is deliberate: it never
    * parses the timestamp, so it is codegen-friendly and immune to
    * format/locale drift — but it REQUIRES the validated wire format
    * (Schemas.TsPattern); we enforce it with an explicit schema instead
    * of inference.
    */
  private[graft] def withMinuteColumns(df: DataFrame, src: String, prefix: String = ""): DataFrame =
    minuteFields.foldLeft(df) { case (d, (name, offset, len)) =>
      d.withColumn(prefix + name, substring(col(src), offset + 1, len))
    }

  /** `(field, offset, length)` of each minute-column field in the wire
    * format, offsets 0-based: the one table of where `year` … `minute`
    * sit in a timestamp string, for columns and driver-side strings.
    */
  private[graft] val minuteFields: Seq[(String, Int, Int)] =
    Seq(("year", 0, 4), ("month", 5, 2), ("day", 8, 2), ("hour", 11, 2), ("minute", 14, 2))

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
    val partitioned = withMinuteColumns(events, "update_at")
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
  * plain Parquet (no Hudi jar in this environment — SURVEY.md §7). As
  * a Hudi COW commit does, each commit writes new files for the day
  * partitions it touches beside the old ones and only then removes the
  * files it read, so a replayed commit is harmless.
  */
object TableWriter {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.generatePartitionPath
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

  /** A disjunction of partition-column equalities for the distinct
    * partitions present in the lake-row `delta` ([[touchedPartitions]],
    * collected to the driver: one tuple per touched DAY; a CDC tick caps
    * at 100 minute-files, so a handful of days at most) for a lake scan,
    * where Catalyst turns it into partition-directory pruning.
    */
  def touchedPartitionsPredicate(delta: DataFrame): Option[Column] =
    Some(touchedPartitions(delta)._1).filter(_.nonEmpty).map(_.map { p =>
      partitionCols.zip(p)
        // null-safe <=>: a null partition value (__HIVE_DEFAULT_PARTITION__)
        // must still select its existing versions, or merging silently
        // duplicates those keys
        .map { case (c, v) => col(c) <=> lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _))

  /** The distinct `partitionCols` values of `delta` in ONE shuffle-free
    * job: every task dedups its own rows, the driver dedups the few
    * collected tuples (one per touched day per task). A `distinct()`
    * would plan a shuffle, which AQE runs as two jobs. Empty iff the
    * delta has no rows. A null value stays null.
    *
    * The same pass counts the rows whose non-null `create_at` or
    * `update_at` is not in the wire format ([[Schemas.TsRegex]]): the
    * day columns are fixed-offset substrings of `create_at`, and
    * `update_at` orders versions as a string, so either only means what
    * it says in that format.
    */
  private def touchedPartitions(delta: DataFrame): (Seq[Seq[String]], Long) = {
    val idx = partitionCols.indices
    val stamps = Seq(idx.length, idx.length + 1)
    val perTask = delta.select((partitionCols :+ "create_at" :+ "update_at").map(col): _*).rdd
      .mapPartitions { rows =>
        val ts = java.util.regex.Pattern.compile(Schemas.TsRegex)
        var bad = 0L
        val parts = rows.map { r =>
          if (stamps.exists(i => !r.isNullAt(i) && !ts.matcher(r.getString(i)).matches)) bad += 1
          idx.map(r.getString)
        }.toSet
        Iterator((parts, bad))
      }.collect()
    (perTask.flatMap(_._1).distinct.toSeq, perTask.map(_._2).sum)
  }

  /** The one commit every incremental lake write goes through: every
    * day partition in `parts` ends up holding exactly the rows that
    * `rows(slice)` gives it, and no other partition changes.
    *
    * The slice is the lake's rows in the partitions of `parts`, read with
    * [[Schemas.lakeRow]] (no schema-inference job; partition columns stay
    * the zero-padded strings, see [[read]]) from the directories that
    * exist, under `basePath = path`. Their names come from Spark's own
    * partition-path escaping, so a null value finds its
    * `__HIVE_DEFAULT_PARTITION__` rows. With no such directory, or no
    * lake yet, the slice is empty and the write creates what it needs.
    * Spark lists the directories' visible data files once, when the
    * slice is defined, and its scan reads exactly that fixed list
    * (`inputFiles`). Passing the directories rather than the files keeps
    * that listing on the driver: more than 32 paths
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) would
    * list in a Spark job.
    *
    * Two steps follow: `rows(slice)` is appended, in new files whose
    * names are unique to the write job, and then the listed files are
    * deleted, and every touched directory the deletes leave empty. The
    * new files are not in the list, so the write can read the slice
    * while it writes beside it. A crash before the deletes end leaves old
    * and new files side by side, never a missing day: re-running a merge
    * then reads both and keeps the latest version of each key, so the
    * replay is exact.
    */
  private def rewritePartitions(spark: SparkSession, path: String, parts: Seq[Seq[String]])
                               (rows: DataFrame => DataFrame): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = parts.map(partitionDir(path, _)).filter(fs.exists)
    val slice =
      if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), Schemas.lakeRow)
      else spark.read.schema(Schemas.lakeRow).option("basePath", path)
        .parquet(dirs.map(_.toString): _*)
    val files = slice.inputFiles
    rows(slice).write.partitionBy(partitionCols: _*).mode("append").parquet(path)
    files.foreach(f => fs.delete(new Path(new java.net.URI(f)), false))
    dirs.filter(fs.listStatus(_).isEmpty).foreach(fs.delete(_, true))
  }

  private def partitionDir(path: String, part: Seq[String]): Path =
    generatePartitionPath(partitionCols.zip(part).toMap, partitionCols, new Path(path))

  /** The O(delta)-cost upsert commit: the latest version per `id` of the
    * lake and `delta` by `update_at` ([[graft.merge.Merge.upsert]]) over
    * the days the delta touches, through [[rewritePartitions]]. The delta
    * is projected onto [[Schemas.lakeRow]]: a lake column it lacks is
    * null in its own rows and kept in every other row. A first commit
    * into an absent lake creates it.
    *
    * The lake is partitioned by create_* which derive from `create_at`,
    * an IMMUTABLE component of the record key `id` (initial_load.py:
    * 124-153: id = account + create_at). Hence every existing version of
    * a delta key lives in a partition the delta itself names, and the
    * merge is exact while doing O(touched partitions) work per commit.
    * The key and version columns are fixed for the same reason: the
    * argument holds only for a key that embeds `create_at`.
    *
    * Latest-wins also makes the commit safe to replay: a merge that
    * died anywhere in [[rewritePartitions]] and is run again with the
    * same delta leaves the lake exactly as one clean run would.
    *
    * A delta row whose non-null `create_at` or `update_at` is not in the
    * wire format fails the commit with an `IllegalArgumentException`
    * before anything is written: its day would be wrong, or its version
    * would order wrongly. A null `create_at` merges into the
    * `__HIVE_DEFAULT_PARTITION__` day.
    *
    * A commit is three Spark jobs: [[touchedPartitions]], a shuffle-free
    * pass over the delta that also decides emptiness (an empty delta is a
    * no-op that neither creates nor rewrites anything) and counts the
    * malformed timestamps; the shuffle map stage of the upsert window;
    * and the write.
    */
  def mergeCommit(spark: SparkSession, delta: DataFrame, path: String): Unit = {
    // upsert projects the delta onto the slice's columns; a delta that
    // carries them all (Ingest.toLakeRows) gets no extra plan node
    val lakeDelta = Schemas.lakeRow.filterNot(f => delta.columns.contains(f.name))
      .foldLeft(delta)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val (touched, bad) = touchedPartitions(lakeDelta)
    require(bad == 0, s"mergeCommit: $bad delta row(s) carry a create_at or update_at outside " +
      "the wire format yyyy-MM-ddTHH:mm:ss.SSSSSS+0000; refusing to commit")
    if (touched.isEmpty) return
    rewritePartitions(spark, path, touched)(Merge.upsert(_, lakeDelta))
  }

  /** Read the lake with its fixed row schema, [[Schemas.lakeRow]]: one
    * scan job, with no parquet schema-inference job before it. A lake
    * file that lacks one of its columns reads it as null; a column
    * outside it is not read.
    *
    * The schema also pins the partition columns to their canonical
    * zero-padded STRING form. A session with partition type inference
    * enabled (the Spark default; GraftSession disables it) would read
    * `create_day=08` back as int 8 — and a subsequent partitioned
    * write would then create `create_day=8` BESIDE the existing
    * `create_day=08`, silently duplicating the partition's rows on read
    * (both dirs parse to the same logical value). This read and
    * [[rewritePartitions]]' slice read both take this schema, so the
    * library is safe on any session, not just GraftSession.
    *
    * A user-specified schema disables partition type inference for that
    * read, so the directory string `08` survives as-is AND the
    * `create_*` columns remain genuine partition columns — filters on
    * them (a [[touchedPartitionsPredicate]]) still prune at the
    * directory level. A `withColumn` rewrite would have silently turned
    * those O(delta) scans into O(table) post-scan filters on
    * inference-enabled sessions.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.lakeRow).parquet(path)

  /** Small-file compaction for one day partition: every 10 s merge tick
    * adds a few files to each touched day, so a hot partition
    * accumulates many small files over days. Rewrites just that day's
    * directory into one file through [[rewritePartitions]], in one Spark
    * job; untouched partitions keep their files. Run on a compaction
    * cadence (hourly/daily), not per tick.
    */
  def compactPartition(spark: SparkSession, path: String,
                       year: String, month: String, day: String): Unit =
    rewritePartitions(spark, path, Seq(Seq(year, month, day)))(_.coalesce(1))

  /** Right-to-be-forgotten purge: delete every lake row whose `id` is in
    * `keys`' `id` column, rewriting ONLY the partitions those keys name
    * through [[rewritePartitions]], which also deletes a partition the
    * purge empties. A purge set is one user's keys, so the ids are
    * collected to the driver once (a null id purges nothing). The record
    * key embeds its immutable `create_at` (initial_load.py:124-133), so
    * the ids name their own partitions, cut from the timestamps on the
    * driver with no Spark job and no lake read to locate them. A lake row
    * with a null id is never purged.
    */
  def purgeKeys(spark: SparkSession, path: String, keys: DataFrame): Unit = {
    val ids = keys.select("id").collect().flatMap(r => Option(r.getString(0))).distinct
    val stamps = ids.map(_.split(",create_at:", -1).last)
    // fail LOUDLY if any key lacks the synthetic-id suffix: the
    // partitions derived from a bad extraction hold nothing and the RTBF
    // purge would silently delete nothing — a silent compliance failure
    val bad = stamps.count(!_.matches(Schemas.TsRegex))
    require(bad == 0,
      s"purgeKeys: $bad key(s) do not embed a ',create_at:<${Schemas.TsPattern}>' " +
        "suffix; refusing to purge (the derived partitions would be wrong)")
    // the day columns are the leading minute fields of create_at
    val touched = stamps.toSeq.map(ts => Ingest.minuteFields.take(partitionCols.length)
      .map { case (_, offset, len) => ts.substring(offset, offset + len) }).distinct
    if (touched.isEmpty) return
    rewritePartitions(spark, path, touched)(
      _.filter(col("id").isNull || !col("id").isin(ids.toIndexedSeq: _*)))
  }
}
