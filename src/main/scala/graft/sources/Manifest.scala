package graft.sources

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.orchestrate.Persist

/** DynamoDB export manifest handling (SURVEY §2.1 S4/S5 + §2.2 P10).
  *
  * The reference parses `manifest-summary.json` (one JSON document) and
  * `manifest-files.json` (JSON-lines, one entry per gzip data file) in
  * vendor/aws_dynamodb_export_to_s3.py:319-375, and validates manifest
  * keys in …post_processor_coordinator.py:53-55. Here the line-oriented
  * manifest is a Spark JSON read with an explicit schema (it can be
  * millions of lines for a 100 TB export — a distributed read, not a
  * driver loop), while the single-document summary/tracker stay
  * driver-side.
  */
object Manifest {

  val dataFileSchema: StructType = StructType(Seq(
    StructField("itemCount", LongType),
    StructField("md5Checksum", StringType),
    StructField("etag", StringType),
    StructField("dataFileS3Key", StringType)))

  /** P10 precondition (…post_processor_coordinator.py:53-55). */
  def isValidManifestKey(key: String): Boolean =
    key.contains("AWSDynamoDB/") && key.endsWith("manifest-files.json")

  /** Data-file entries must point at gzip data under the export dir. */
  def isValidDataFileKey(key: String): Boolean =
    key.contains("AWSDynamoDB/") && key.endsWith(".json.gz")

  def writeDataFiles(df: DataFrame, dir: String): Unit =
    df.select("itemCount", "md5Checksum", "etag", "dataFileS3Key")
      .write.mode("overwrite").json(dir)

  /** Read + validate a manifest-files listing. Invalid keys fail the
    * read loudly (matching the coordinator's ValueError) rather than
    * silently dropping files from the initial load.
    */
  def readDataFiles(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.schema(dataFileSchema).json(dir)
    // NULL keys (malformed/permissive-parsed lines) must count as bad —
    // a bare `!rlike` predicate is NULL for them and filter() would
    // silently drop exactly the rows this check exists to catch
    val bad = df.filter(col("dataFileS3Key").isNull ||
      !col("dataFileS3Key").rlike("AWSDynamoDB/.*\\.json\\.gz$")).limit(1).count()
    require(bad == 0, s"manifest contains invalid or unparseable data-file keys under $dir")
    df
  }

  /** S4: export tracker `{"export_arn": …}` + export-dir resolution
    * (glue_jobs/initial_load.py:79-90: the ARN's trailing
    * `…/export/<export-id>` names the S3 dir `AWSDynamoDB/<export-id>/data/`).
    */
  final case class ExportTracker(exportArn: String) {
    def exportId: String = exportArn.split("/").last
    def dataDir(prefix: String): String = s"$prefix/AWSDynamoDB/$exportId/data"
  }

  private val mapper = new ObjectMapper

  /** Replaces the tracker whole ([[Persist.replaceAtomically]]), like
    * every other driver document: a torn write never shows.
    */
  def writeExportTracker(t: ExportTracker, path: String): Unit =
    Persist.replaceAtomically(path,
      mapper.writeValueAsString(mapper.createObjectNode().put("export_arn", t.exportArn)))

  def readExportTracker(path: String): ExportTracker =
    Some(mapper.readTree(Files.readString(Paths.get(path))).path("export_arn"))
      .filter(_.isTextual).map(arn => ExportTracker(arn.asText))
      .getOrElse(throw new IllegalArgumentException(s"no export_arn in $path"))
}
