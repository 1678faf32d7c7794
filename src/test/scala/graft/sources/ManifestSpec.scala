package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ManifestSpec extends AnyFunSuite {
  import Manifest._

  test("P10 manifest-key validation") {
    assert(isValidManifestKey("exports/AWSDynamoDB/01690000000000-12345678/manifest-files.json"))
    assert(!isValidManifestKey("exports/AWSDynamoDB/0169-1234/manifest-summary.json"))
    assert(!isValidManifestKey("other/manifest-files.json"))
  }

  test("data-file key validation") {
    assert(isValidDataFileKey("AWSDynamoDB/0169-ab/data/x4mple.json.gz"))
    assert(!isValidDataFileKey("AWSDynamoDB/0169-ab/data/x4mple.json"))
  }

  test("export tracker round-trip + data-dir derivation from ARN (S4)") {
    val t = ExportTracker(
      "arn:aws:dynamodb:us-east-1:111122223333:table/Transaction/export/01690000000000-deadbeef")
    assert(t.exportId === "01690000000000-deadbeef")
    assert(t.dataDir("s3://bucket/prefix") ===
      "s3://bucket/prefix/AWSDynamoDB/01690000000000-deadbeef/data")
    val p = Files.createTempDirectory("graft_manifest").resolve("tracker.json").toString
    writeExportTracker(t, p)
    assert(readExportTracker(p) === t)
  }

  test("an export tracker in the earlier hand-rolled writer's text still reads") {
    val arn = "arn:aws:dynamodb:us-east-1:111122223333:table/Transaction/export/01690000000000-deadbeef"
    val p = Files.createTempDirectory("graft_manifest_old").resolve("tracker.json")
    Files.writeString(p, s"""{"export_arn": "$arn"}""")
    assert(readExportTracker(p.toString) === ExportTracker(arn))
    Files.writeString(p, """{"export_id": "01690000000000-deadbeef"}""")
    assert(intercept[IllegalArgumentException](readExportTracker(p.toString))
      .getMessage.contains("no export_arn"))
  }

  test("the export tracker is replaced by rename, never rewritten in place") {
    val arn = "arn:aws:dynamodb:us-east-1:111122223333:table/Transaction/export/"
    val (t1, t2) = (ExportTracker(arn + "01690000000000-aaaa"), ExportTracker(arn + "01690000000000-bbbb"))
    val p = Files.createTempDirectory("graft_manifest_swap").resolve("tracker.json")
    writeExportTracker(t1, p.toString)
    // a second name for the tracker's current file: rewriting that file
    // in place (what a crash can tear) would show through it
    val old = p.resolveSibling("old.json")
    Files.createLink(old, p)
    writeExportTracker(t2, p.toString)
    assert(readExportTracker(p.toString) === t2)
    assert(readExportTracker(old.toString) === t1, "the tracker was rewritten in place")
    val ls = Files.list(p.getParent)
    try assert(ls.iterator().asScala.map(_.getFileName.toString).toSet === Set("tracker.json", "old.json"))
    finally ls.close()
  }

  test("readDataFiles rejects invalid keys loudly") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_rd").toString
    val good = Seq((7L, "c1", "e1", "AWSDynamoDB/01-ab/data/000001.json.gz"))
      .toDF("itemCount", "md5Checksum", "etag", "dataFileS3Key")
    writeDataFiles(good, dir)
    assert(readDataFiles(spark, dir).count() === 1)

    val bad = Seq((7L, "c1", "e1", "elsewhere/000001.json"))
      .toDF("itemCount", "md5Checksum", "etag", "dataFileS3Key")
    val dir2 = Files.createTempDirectory("graft_manifest_bad").toString
    writeDataFiles(bad, dir2)
    assertThrows[IllegalArgumentException] {
      readDataFiles(spark, dir2).count()
    }

    // a malformed line parses to an all-null row under PERMISSIVE mode —
    // the null key must ALSO fail validation, not silently pass
    val dir3 = Files.createTempDirectory("graft_manifest_null").toString
    Files.writeString(java.nio.file.Paths.get(dir3, "m.json"),
      """{"broken json line""" + "\n" +
        """{"itemCount": 1, "md5Checksum": "c", "etag": "e", "dataFileS3Key": "AWSDynamoDB/01-ab/data/ok.json.gz"}""")
    assertThrows[IllegalArgumentException] {
      readDataFiles(spark, dir3).count()
    }
  }
}
