package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Schemas

class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("readCdcFiles reads an explicit file list, not the whole landing dir (S2)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_s2").toString
    def row(acct: String, min: Int) =
      s"""{"account":"$acct","create_at":"2024-01-01T00:$min%02d:00.000000+0000","update_at":"2024-01-01T00:$min%02d:00.000000+0000","entity":"E","amount":1,"is_credit":0,"note":"n"}"""
        .replace("$min%02d", f"$min%02d")
    Files.writeString(Paths.get(dir, "f1.json"), Seq(row("a1", 1), row("a2", 1)).mkString("\n"))
    Files.writeString(Paths.get(dir, "f2.json"), row("a3", 2))
    Files.writeString(Paths.get(dir, "f3.json"), row("a4", 3))

    val picked = Ingest.readCdcFiles(spark, Seq(s"$dir/f1.json", s"$dir/f3.json"))
    assert(picked.count() === 3)
    assert(picked.select("account").as[String].collect().sorted === Array("a1", "a2", "a4"))
  }

  test("landCdc derives landing partitions from update_at, not create_at (the reference asymmetry)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_land").toString
    val ev = Seq((
      "acc-1", "2024-01-01T00:00:00.000000+0000", "2024-02-15T10:30:00.000000+0000",
      "E", 1, 0, "n"))
      .toDF("account", "create_at", "update_at", "entity", "amount", "is_credit", "note")
    Ingest.landCdc(ev, dir)
    assert(Files.exists(Paths.get(dir,
      "year=2024", "month=02", "day=15", "hour=10", "minute=30")),
      "landing partition must follow update_at (arrival window)")
    val back = spark.read.schema(Schemas.flatCdcRow).json(dir)
    assert(back.head().getAs[String]("create_at").startsWith("2024-01-01"))
  }

  test("schema-evolution read: mergeSchema unifies; pre-evolution rows are null (K13)") {
    import spark.implicits._
    val lake = Files.createTempDirectory("graft_k13").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$lake/batch=1")
    Seq((3L, "c", "web")).toDF("id", "v", "channel")
      .write.mode("append").parquet(s"$lake/batch=2")
    val unified = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(lake)
    assert(unified.columns.toSet === Set("id", "v", "channel"))
    val rows = unified.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("channel")).toSeq === Seq(null, null, "web"))
  }

  test("corrupt-record quarantine: malformed lines route, never null-fill (QR1)") {
    val dir = Files.createTempDirectory("graft_qr1").toString
    Files.writeString(Paths.get(dir, "feed.json"), Seq(
      """{"account":"a","create_at":"2024-01-01T00:00:01.000000+0000","update_at":"2024-01-01T00:00:01.000000+0000","entity":"E","amount":5,"is_credit":0,"note":"ok"}""",
      """CORRUPT{"account":"b"}""",
      """{"account":"c","create_at":"2024-01-01T00:00:02.000000+0000","update_at":"2024-01-01T00:00:02.000000+0000","entity":"F","amount":7,"is_credit":1,"note":"ok"}""",
      "not json at all").mkString("\n"))
    val schema = Schemas.flatCdcRow.add("_corrupt", "string")
    // Spark disallows corrupt-column-only queries over raw JSON — the
    // documented workaround is to cache the parsed result first
    val got = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .cache()
    try {
      got.count()
      val bad = got.filter(col("_corrupt").isNotNull)
      val good = got.filter(col("_corrupt").isNull)
      assert(bad.count() === 2L)
      assert(good.count() === 2L)
      // malformed rows must not leak values into the good columns
      assert(bad.filter(col("account").isNotNull).count() === 0L)
      assert(good.select("account").collect().map(_.getString(0)).toSet
        === Set("a", "c"))
    } finally spark.catalog.clearCache()
  }

  test("pruneLanding takes a file: URI landing dir and prunes through the cursor") {
    val root = Files.createTempDirectory("graft_prune")
    val minutes = (0 to 3).map(m => f"year=2024/month=01/day=01/hour=00/minute=$m%02d") :+
      "year=2024/month=01/day=01/hour=01/minute=00"
    minutes.foreach { m =>
      Files.createDirectories(root.resolve(m))
      Files.writeString(root.resolve(m).resolve("part-0.json"), "{}")
    }
    val uri = root.toUri.toString
    assert(uri.startsWith("file:/"))
    val cursor = "year=2024/month=01/day=01/hour=00/minute=01"
    assert(Ingest.pruneLanding(uri, cursor) === 2)
    minutes.foreach { m =>
      assert(Files.exists(root.resolve(m)) === (m > cursor), m)
    }
    // emptied parents go with their last minute, never the root itself
    assert(Ingest.pruneLanding(uri, "year=2024/month=01/day=01/hour=00/minute=59") === 2)
    assert(!Files.exists(root.resolve("year=2024/month=01/day=01/hour=00")))
    assert(Files.exists(root.resolve("year=2024/month=01/day=01/hour=01/minute=00")))
    assert(Ingest.pruneLanding(uri, "year=2024/month=01/day=01/hour=01/minute=00") === 1)
    assert(Files.exists(root) && root.toFile.list().isEmpty)
    assert(Ingest.pruneLanding(uri, cursor) === 0)
    assert(Ingest.pruneLanding(root.resolve("absent").toUri.toString, cursor) === 0)
  }
}
