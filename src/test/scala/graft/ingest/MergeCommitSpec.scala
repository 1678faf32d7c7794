package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkJobs.jobsFiredBy
import graft.TestSpark
import graft.merge.Merge

/** The scale-critical property: a merge commit touches ONLY the
  * partitions present in the delta (O(delta) work per tick), and still
  * produces exactly the same table as a full-table upsert would.
  */
class MergeCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def lakeRows(rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    Ingest.withPartitionColumns(
      rows.toDF("id", "create_at", "note")
        .withColumn("update_at", col("create_at")))
  }

  private def day(d: Int, sec: Int) = f"2024-01-$d%02dT00:00:$sec%02d.000000+0000"

  /** Every file under `p` with its modification time. */
  private def filesOf(p: java.nio.file.Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    finally w.close()
  }

  test("mergeCommit rewrites only delta partitions and matches full upsert") {
    val lake = Files.createTempDirectory("graft_lake").toString
    val snapshot = lakeRows(Seq(
      ("k1", day(1, 1), "d1-a"), ("k2", day(1, 2), "d1-b"),
      ("k3", day(2, 1), "d2-a"), ("k4", day(3, 1), "d3-a")))
    TableWriter.bulkWrite(snapshot, lake)

    val untouchedDir = Paths.get(lake, "create_year=2024", "create_month=01", "create_day=03")
    val before = filesOf(untouchedDir)

    // delta updates k1 (same day-1 partition, newer version) + inserts k5 into day 2
    val delta = lakeRows(Seq(("k1", day(1, 1), "d1-a2"), ("k5", day(2, 5), "d2-new")))
      .withColumn("update_at", concat(lit("2024-02-01T"), substring(col("update_at"), 12, 20)))
    TableWriter.mergeCommit(spark, delta, lake)

    val after = filesOf(untouchedDir)
    assert(before === after, "day-3 partition files must be untouched by a day-1/2 delta")

    // exceptAll resolves by POSITION; parquet read-back moves partition
    // columns to the end, so realign first
    val want = Merge.upsert(snapshot, delta)
    val got = TableWriter.read(spark, lake).select(want.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.filter(col("id") === "k1").head().getAs[String]("note") === "d1-a2")
    assert(got.count() === 5)
  }

  test("mergeCommit on an empty lake bootstraps via bulk write") {
    val lake = Files.createTempDirectory("graft_lake_empty").resolve("tbl").toString
    // k1 comes twice: the first delta still gets the in-batch latest-wins
    val delta = lakeRows(Seq(("k1", day(1, 1), "a"), ("k2", day(2, 1), "b")))
      .union(lakeRows(Seq(("k1", day(1, 1), "a-newer"))).withColumn("update_at", lit(day(9, 0))))
    TableWriter.mergeCommit(spark, delta, lake)
    assert(TableWriter.read(spark, lake).count() === 2)
    assert(TableWriter.read(spark, lake).filter(col("id") === "k1").head()
      .getAs[String]("note") === "a-newer")
  }

  test("a commit keeps the lake columns a narrower delta lacks") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_lake_narrow").toString
    val flat = Seq(("acc1", day(1, 1), "shop", 5), ("acc2", day(1, 2), "bank", 7))
      .toDF("account", "create_at", "entity", "amount")
      .withColumn("update_at", col("create_at"))
      .withColumn("is_credit", lit(0)).withColumn("note", lit("n0"))
    TableWriter.bulkWrite(Ingest.toLakeRows(flat), lake)
    // the delta updates acc1 in day 1 and carries no entity or amount
    val delta = Ingest.toLakeRows(flat.filter(col("account") === "acc1"))
      .drop("entity", "amount")
      .withColumn("update_at", lit(day(9, 0))).withColumn("note", lit("n1"))
    TableWriter.mergeCommit(spark, delta, lake)
    val got = TableWriter.read(spark, lake).select("account", "entity", "amount", "note")
      .as[(String, String, Option[Int], String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(("acc1", null, None, "n1"), ("acc2", "bank", Some(7), "n0")),
      "a key the delta does not name keeps every lake column of its rewritten partition")
  }

  test("mergeCommit into a file: URI lake keeps untouched partitions") {
    // a Hadoop URI is not a local file path: a local-file existence
    // check sees no lake on every tick, and each tick's bootstrap then
    // bulk-overwrites the whole table with its delta
    val lake = Files.createTempDirectory("graft_lake_uri").resolve("tbl").toUri.toString
    assert(lake.startsWith("file:"))
    TableWriter.mergeCommit(spark,
      lakeRows(Seq(("k1", day(1, 1), "a"), ("k2", day(2, 1), "b"))), lake)
    TableWriter.mergeCommit(spark,
      lakeRows(Seq(("k2", day(2, 1), "b2"), ("k3", day(3, 1), "c")))
        .withColumn("update_at", lit(day(9, 0))), lake)
    val got = TableWriter.read(spark, lake).select("id", "note").collect()
      .map(r => r.getString(0) -> r.getString(1)).sorted
    assert(got.toSeq === Seq("k1" -> "a", "k2" -> "b2", "k3" -> "c"))
  }

  test("an empty delta is a no-op: no lake is created, an existing one keeps its files") {
    val base = Files.createTempDirectory("graft_lake_nodelta")
    val absent = base.resolve("tbl")
    TableWriter.mergeCommit(spark, lakeRows(Seq.empty), absent.toString)
    assert(Files.notExists(absent), "an empty delta must not create a lake directory")

    val lake = base.resolve("lake")
    TableWriter.bulkWrite(lakeRows(Seq(("k1", day(1, 1), "a"), ("k2", day(2, 1), "b"))),
      lake.toString)
    val before = filesOf(lake)
    TableWriter.mergeCommit(spark, lakeRows(Seq.empty), lake.toString)
    assert(filesOf(lake) === before, "an empty delta must leave every lake file as it was")
  }

  test("a commit into an existing lake fires at most 3 Spark jobs; an empty delta at most 1") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val lake = Files.createTempDirectory("graft_lake_jobs").toString
    TableWriter.bulkWrite(lakeRows(Seq(
      ("k1", day(1, 1), "a"), ("k2", day(2, 1), "b"), ("k3", day(3, 1), "c"))), lake)
    // an update in an existing day, a duplicate key inside the delta,
    // and an insert into a new day
    val delta = lakeRows(Seq(
      ("k1", day(1, 1), "a2"), ("k1", day(1, 1), "a3"), ("k9", day(4, 1), "new")))
      .withColumn("update_at", lit(day(9, 0)))
    val commitJobs = jobsFiredBy(TableWriter.mergeCommit(spark, delta, lake))
    assert(commitJobs <= 3, s"mergeCommit into an existing lake fired $commitJobs jobs")
    assert(TableWriter.read(spark, lake).count() === 4)
    val emptyJobs = jobsFiredBy(TableWriter.mergeCommit(spark, lakeRows(Seq.empty), lake))
    assert(emptyJobs <= 1, s"mergeCommit of an empty delta fired $emptyJobs jobs")
  }

  test("mergeCommit refuses a timestamp outside the +0000 wire format and writes nothing") {
    val lake = Files.createTempDirectory("graft_lake_badts")
    TableWriter.bulkWrite(lakeRows(Seq(("k1", day(1, 1), "a"), ("k2", day(2, 1), "b"))),
      lake.toString)
    val before = filesOf(lake)
    // 00:30 at +0100 is 23:30 of the day before in UTC: cut from the
    // string, it would land in day 2
    val offset = lakeRows(Seq(("k3", "2024-01-02T00:30:00.000000+0100", "c")))
    // a 3-digit fraction orders wrongly against the 6-digit versions
    val millis = lakeRows(Seq(("k1", day(1, 1), "a2")))
      .withColumn("update_at", lit("2024-01-09T00:00:00.000+0000"))
    for (delta <- Seq(offset, millis)) {
      val err = intercept[IllegalArgumentException](TableWriter.mergeCommit(spark, delta, lake.toString))
      assert(err.getMessage.contains("mergeCommit: 1 delta row"), err.getMessage)
      assert(filesOf(lake) === before, "a refused commit must leave every lake file as it was")
    }
  }

  test("a null partition value merges into its __HIVE_DEFAULT_PARTITION__ rows") {
    val lake = Files.createTempDirectory("graft_lake_nullpart").toString
    TableWriter.bulkWrite(lakeRows(Seq(
      ("n1", null, "a"), ("n2", null, "b"), ("k1", day(1, 1), "c")))
      .withColumn("update_at", lit(day(1, 0))), lake)
    assert(Files.isDirectory(Paths.get(lake, "create_year=__HIVE_DEFAULT_PARTITION__")))
    TableWriter.mergeCommit(spark,
      lakeRows(Seq(("n1", null, "a2"))).withColumn("update_at", lit(day(5, 0))), lake)
    // n2 shares the rewritten default partition: losing the existing
    // slice of that partition would drop it, not just n1's old version
    val got = TableWriter.read(spark, lake).select("id", "note", "update_at").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    assert(got.toSeq === Seq(
      ("k1", "c", day(1, 0)), ("n1", "a2", day(5, 0)), ("n2", "b", day(1, 0))))
  }

  test("read takes the fixed lake schema; a column a lake file lacks reads as null") {
    // the fixtures here write only id/create_at/note/update_at + partitions
    val lake = Files.createTempDirectory("graft_lake_schema").toString
    TableWriter.bulkWrite(lakeRows(Seq(("k1", day(8, 1), "a"))), lake)
    val got = TableWriter.read(spark, lake)
    // partition columns come last, as in any partitioned parquet read
    assert(got.schema.sortBy(_.name) === graft.model.Schemas.lakeRow.sortBy(_.name))
    val r = got.head()
    assert(r.getAs[String]("create_day") === "08", "partition values stay zero-padded strings")
    assert(r.getAs[String]("note") === "a")
    assert(r.isNullAt(r.fieldIndex("account")) && r.isNullAt(r.fieldIndex("amount")))
  }

  test("compactPartition shrinks one day's file count without changing data or neighbors") {
    import scala.jdk.CollectionConverters._
    val lake = Files.createTempDirectory("graft_lake_compact").toString
    val rows = lakeRows((1 to 24).map(i => (s"k$i", day(1, i), s"v$i")) ++
      Seq(("x1", day(2, 1), "other-day")))
    TableWriter.bulkWrite(rows.repartition(6), lake)
    def filesIn(d: Int): Seq[java.nio.file.Path] = {
      val p = Paths.get(lake, "create_year=2024", "create_month=01", f"create_day=$d%02d")
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toSeq
      finally w.close()
    }
    assert(filesIn(1).size > 1, "fixture must start fragmented")
    val day2Before = filesIn(2).map(_.toString).sorted
    val before = TableWriter.read(spark, lake).localCheckpoint()

    TableWriter.compactPartition(spark, lake, "2024", "01", "01")

    assert(filesIn(1).size === 1, "day-1 must compact to one file")
    assert(filesIn(2).map(_.toString).sorted === day2Before, "day-2 files untouched")
    val after = TableWriter.read(spark, lake)
      .select(before.columns.map(col).toIndexedSeq: _*)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }

  test("compactPartition is one Spark job") {
    val lake = Files.createTempDirectory("graft_lake_compact_jobs").toString
    val rows = lakeRows((1 to 12).map(i => (s"k$i", day(1, i), s"v$i")) ++
      Seq(("x1", day(2, 1), "other-day")))
    TableWriter.bulkWrite(rows.repartition(4), lake)
    val jobs = jobsFiredBy(TableWriter.compactPartition(spark, lake, "2024", "01", "01"))
    assert(jobs === 1, s"compactPartition fired $jobs jobs")
    assert(TableWriter.read(spark, lake).count() === 13)
  }

  test("compactPartition of a day holding more than 32 files is one Spark job") {
    // the slice's files are listed on the driver whatever their number
    val lake = Files.createTempDirectory("graft_lake_compact_many").toString
    TableWriter.bulkWrite(lakeRows((1 to 200).map(i => (s"k$i", day(1, i % 60), s"v$i"))).repartition(40), lake)
    assert(filesOf(Paths.get(lake)).keys.count(_.endsWith(".parquet")) > 32, "fixture must hold > 32 files")
    val jobs = jobsFiredBy(TableWriter.compactPartition(spark, lake, "2024", "01", "01"))
    assert(jobs === 1, s"compactPartition fired $jobs jobs")
    assert(TableWriter.read(spark, lake).count() === 200)
  }

  test("compactPartition does not duplicate partitions under default type inference") {
    val lake = Files.createTempDirectory("graft_lake_infer").toString
    TableWriter.bulkWrite(lakeRows(Seq(
      ("k1", day(8, 1), "a"), ("k2", day(8, 2), "b"), ("k3", day(9, 1), "c"))), lake)
    val n0 = TableWriter.read(spark, lake).count()
    // the Spark DEFAULT: partition dirs like create_day=08 infer as int
    // 8; a naive rewrite would then write create_day=8 BESIDE it and
    // every read would return the day twice
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    try {
      TableWriter.compactPartition(spark, lake, "2024", "01", "08")
    } finally {
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    }
    assert(!Files.exists(Paths.get(lake, "create_year=2024", "create_month=1")),
      "an unpadded twin partition directory must not appear")
    assert(TableWriter.read(spark, lake).count() === n0, "no row may be duplicated")
  }

  test("partition pruning stays physical under default type inference") {
    // the schema-pinned read must keep create_* as real partition
    // columns: a post-read lpad rewrite would silently turn the merge
    // tick's O(delta) pruned scan into an O(table) post-scan filter on
    // inference-enabled (non-Graft) sessions
    val lake = Files.createTempDirectory("graft_lake_infprune").toString
    TableWriter.bulkWrite(lakeRows(Seq(
      ("a", day(1, 1), "x"), ("b", day(2, 1), "y"), ("c", day(3, 1), "z"))), lake)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    try {
      val pred = TableWriter.touchedPartitionsPredicate(
        lakeRows(Seq(("a", day(1, 2), "x2")))).get
      val pruned = TableWriter.read(spark, lake).filter(pred)
      assert(pruned.collect().length === 1)
      val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.metrics("numFiles").value === 1,
        s"expected a 1-file pruned scan under inference; got ${scan.metrics("numFiles").value}")
    } finally {
      spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    }
  }

  test("bulkWrite zstd parquet round-trips identically to snappy") {
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_lake_zstd")
    val rows = lakeRows(Seq(
      ("k1", day(1, 1), "a"), ("k2", day(2, 1), "b"), ("k3", day(3, 1), "c")))
    TableWriter.bulkWrite(rows, base.resolve("snappy").toString)
    TableWriter.bulkWrite(rows, base.resolve("zstd").toString, codec = "zstd")
    val a = TableWriter.read(spark, base.resolve("snappy").toString)
    val b = TableWriter.read(spark, base.resolve("zstd").toString)
      .select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val zfiles = Files.walk(base.resolve("zstd")).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).toSeq
    assert(zfiles.nonEmpty && zfiles.forall(_.getFileName.toString.contains("zstd")),
      s"expected zstd-coded part files, got: ${zfiles.map(_.getFileName).mkString(", ")}")
  }

  test("snapshot scan is partition-pruned to the delta's partitions") {
    val lake = Files.createTempDirectory("graft_lake_prune").toString
    TableWriter.bulkWrite(lakeRows(Seq(
      ("a", day(1, 1), "x"), ("b", day(2, 1), "y"), ("c", day(3, 1), "z"))), lake)
    val delta = lakeRows(Seq(("a", day(1, 2), "x2")))
    val pred = TableWriter.touchedPartitionsPredicate(delta).get
    val pruned = TableWriter.read(spark, lake).filter(pred)
    // physical proof of pruning: the scan's numFiles metric after
    // execution must be 1 of the 3 partition files (df.inputFiles shows
    // the UNPRUNED listing, so it can't be used here)
    val plan = pruned.queryExecution.executedPlan
    assert(pruned.collect().length === 1)
    val scan = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics("numFiles").value === 1,
      s"expected the scan to read 1 pruned file; plan:\n$plan")
  }

  test("purgeKeys rewrites only key-named partitions and deletes emptied ones") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_purge").toString
    val flat = Seq(
      ("acc1", day(1, 1), "a"), ("acc2", day(1, 2), "b"), // day 1: mixed
      ("acc1", day(2, 1), "c"),                           // day 2: acc1 only -> emptied
      ("acc3", day(3, 1), "d"))                           // day 3: untouched
      .toDF("account", "create_at", "note")
      .withColumn("update_at", col("create_at"))
    val rows = Ingest.withPartitionColumns(Ingest.withId(flat))
    TableWriter.bulkWrite(rows, lake)

    val d3 = Paths.get(lake, "create_year=2024", "create_month=01", "create_day=03")
    val before = filesOf(d3)

    TableWriter.purgeKeys(spark, lake,
      rows.filter(col("account") === "acc1").select("id"))

    val got = TableWriter.read(spark, lake)
    assert(got.select("account").as[String].collect().sorted === Array("acc2", "acc3"))
    assert(Files.notExists(
      Paths.get(lake, "create_year=2024", "create_month=01", "create_day=02")),
      "a fully-purged partition directory must be deleted, not left stale")
    assert(before === filesOf(d3),
      "a partition the key set does not name must keep its exact files")

    // malformed keys (no ',create_at:<ts>' suffix) must fail LOUDLY:
    // the derived partition predicate would match nothing and the RTBF
    // purge would silently delete nothing — a compliance failure
    val err = intercept[IllegalArgumentException] {
      TableWriter.purgeKeys(spark, lake,
        Seq("not-a-synthetic-id").toDF("id"))
    }
    assert(err.getMessage.contains("purgeKeys"))
  }

  /** The purge fixture above: acc1 shares day 1, owns day 2 alone; day 3 is acc3's. */
  private def purgeLake(name: String): (String, DataFrame) = {
    import spark.implicits._
    val lake = Files.createTempDirectory(name).toString
    val rows = Ingest.withPartitionColumns(Ingest.withId(Seq(
      ("acc1", day(1, 1), "a"), ("acc2", day(1, 2), "b"),
      ("acc1", day(2, 1), "c"), ("acc3", day(3, 1), "d"))
      .toDF("account", "create_at", "note")
      .withColumn("update_at", col("create_at"))))
    TableWriter.bulkWrite(rows, lake)
    (lake, rows)
  }

  test("purgeKeys is at most 2 Spark jobs") {
    import spark.implicits._
    val (lake, rows) = purgeLake("graft_purge_jobs")
    val jobs = jobsFiredBy(TableWriter.purgeKeys(spark, lake,
      rows.filter(col("account") === "acc1").select("id")))
    assert(jobs <= 2, s"purgeKeys fired $jobs jobs")
    assert(TableWriter.read(spark, lake).select("account").as[String].collect().sorted ===
      Array("acc2", "acc3"))
  }

  test("a purge of driver-local keys is one Spark job") {
    import spark.implicits._
    val (lake, rows) = purgeLake("graft_purge_one_job")
    val jobs = jobsFiredBy(TableWriter.purgeKeys(spark, lake,
      rows.filter(col("account") === "acc1").select("id")))
    assert(jobs === 1, s"purgeKeys fired $jobs jobs")
    assert(TableWriter.read(spark, lake).select("account").as[String].collect().sorted ===
      Array("acc2", "acc3"))
  }

  test("a purge keeps a null-id lake row and skips a null key") {
    import spark.implicits._
    val (lake, rows) = purgeLake("graft_purge_nulls")
    // a lake row with no id in day 1, a day the purge rewrites
    TableWriter.mergeCommit(spark, lakeRows(Seq((null, day(1, 3), "orphan"))), lake)
    val acc1 = rows.filter(col("account") === "acc1").select("id").as[String].collect().toSeq
    TableWriter.purgeKeys(spark, lake, (acc1.map(Option(_)) :+ None).toDF("id"))
    val got = TableWriter.read(spark, lake).select("id", "note").collect()
      .map(r => Option(r.getString(0)).map(_.takeWhile(_ != ',')) -> r.getString(1)).sortBy(_._2)
    assert(got.toSeq === Seq(Some("account:acc2") -> "b", Some("account:acc3") -> "d",
      None -> "orphan"))
  }

  test("writeAuditPublish: failed audit stages but never flips the pointer") {
    import spark.implicits._
    import graft.ops.Profile
    val dir = Files.createTempDirectory("wap").toString
    def audit(df: DataFrame): DataFrame = Profile.qualityReport(Seq(
      Profile.expectUnique(df, "pk", Seq("k")),
      Profile.expectComplete(df, "v_complete", "v")))
    val clean = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val (_, ok1) = VersionedDir.writeAuditPublish(clean, dir, 1L, audit)
    assert(ok1 && VersionedDir.currentVersion(spark, dir) === Some(1L))
    // duplicate key + null value: audit fails, pointer must stay at 1
    val bad = Seq((1L, "a"), (1L, "a"), (3L, null.asInstanceOf[String])).toDF("k", "v")
    val (rep2, ok2) = VersionedDir.writeAuditPublish(bad, dir, 2L, audit)
    assert(!ok2)
    assert(VersionedDir.currentVersion(spark, dir) === Some(1L))
    assert(VersionedDir.current(spark, dir).get.count() === 2L)
    // the staged dir is preserved for debugging
    assert(Files.exists(Paths.get(dir, "v=2")))
    val reports = rep2.collect().map(r =>
      r.getAs[String]("check_name") -> r.getAs[Long]("n_violations")).toMap
    assert(reports("pk") === 1L && reports("v_complete") === 1L)
    // a corrected batch publishes over the failed stage
    val fixed = Seq((1L, "a"), (3L, "c")).toDF("k", "v")
    val (_, ok3) = VersionedDir.writeAuditPublish(fixed, dir, 2L, audit)
    assert(ok3 && VersionedDir.currentVersion(spark, dir) === Some(2L))
  }

  test("commitLedger: order-free fingerprints, chained hashes, tamper detection") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ledger").resolve("t").toString
    def digest(df: org.apache.spark.sql.DataFrame) =
      concat(df("k").cast("string"), lit(":"), md5(df("v")))
    VersionedDir.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, 0L)
    VersionedDir.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir, 1L)
    val led = VersionedDir.commitLedger(spark, dir, digest)
      .orderBy("version").collect()
    assert(led.map(_.getAs[Long]("n_rows")).toSeq === Seq(2L, 3L))
    assert(led.map(_.getAs[String]("chain_md5")).distinct.length === 2)
    // fingerprint is ORDER-FREE: republishing v0 with rows swapped
    // leaves the whole chain bit-identical
    VersionedDir.publish(Seq((2L, "b"), (1L, "a")).toDF("k", "v"), dir, 0L)
    val led2 = VersionedDir.commitLedger(spark, dir, digest)
      .orderBy("version").collect()
    assert(led2.map(_.getAs[String]("chain_md5")).toSeq ===
      led.map(_.getAs[String]("chain_md5")).toSeq)
    // tampering with HISTORY (v0 content) changes v0's link AND v1's
    VersionedDir.publish(Seq((1L, "a"), (2L, "TAMPERED")).toDF("k", "v"), dir, 0L)
    val led3 = VersionedDir.commitLedger(spark, dir, digest)
      .orderBy("version").collect()
    assert(led3(0).getAs[String]("chain_md5") !== led(0).getAs[String]("chain_md5"))
    assert(led3(1).getAs[String]("chain_md5") !== led(1).getAs[String]("chain_md5"))
  }
}
