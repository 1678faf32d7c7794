package graft.orchestrate

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** JSON persistence for the tracker state machine and the per-tick job
  * input — the reference round-trips both through S3 documents
  * (incremental_load_orchestration.py:89-154 CDCTracker.read/write,
  * :240-277 GlueJobInput) so a cron orchestrator survives restarts.
  * Jackson's tree model (jackson-databind ships with Spark) reads and
  * writes the two fixed-shape documents; field names mirror the reference.
  */
object Persist {

  private val mapper = new ObjectMapper

  /** A string field; absent, JSON `null` or not a string reads as `None`. */
  private def text(doc: JsonNode, name: String): Option[String] =
    Some(doc.path(name)).filter(_.isTextual).map(_.asText)

  private def required(doc: JsonNode, name: String): String =
    text(doc, name).getOrElse(throw new IllegalArgumentException(s"missing $name"))

  /** Writes the whole document or nothing, as the reference's S3 PUT
    * does: the text goes to a temp file beside `path`, which then
    * replaces `path` in one rename. A crash mid-write leaves the old
    * document readable plus a stray temp file, which no reader looks at
    * and the next write of the same document does not depend on.
    */
  private[graft] def replaceAtomically(path: String, text: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, text, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  // -- CDCTracker.State <-> JSON (orchestration.py:141-154) ------------

  def stateToJson(s: CdcTracker.State): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("last_processed_partition", s.lastProcessedPartition)
      .put("next_processed_partition", s.nextProcessedPartition.orNull)
      .put("last_run_id", s.lastRunId.orNull)
      .put("ready_to_run_next", s.readyToRunNext))

  def stateFromJson(json: String): CdcTracker.State = {
    val doc = mapper.readTree(json)
    CdcTracker.State(
      lastProcessedPartition = required(doc, "last_processed_partition"),
      nextProcessedPartition = text(doc, "next_processed_partition"),
      lastRunId = text(doc, "last_run_id"),
      readyToRunNext = Some(doc.path("ready_to_run_next")).filter(_.isBoolean).forall(_.asBoolean))
  }

  def writeState(s: CdcTracker.State, path: String): Unit =
    replaceAtomically(path, stateToJson(s))

  def readState(path: String): Option[CdcTracker.State] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(stateFromJson(Files.readString(p))) else None
  }

  // -- per-tick job input (orchestration.py:240-277, incremental.py:89-98)

  final case class JobInput(
      startAfterPartition: String,
      endBeforePartition: String,
      s3uriList: Seq[String])

  def jobInputToJson(j: JobInput): String = {
    val doc = mapper.createObjectNode()
      .put("start_after_partition", j.startAfterPartition)
      .put("end_before_partition", j.endBeforePartition)
    j.s3uriList.foldLeft(doc.putArray("s3uri_list"))(_.add(_))
    mapper.writeValueAsString(doc)
  }

  def jobInputFromJson(json: String): JobInput = {
    val doc = mapper.readTree(json)
    JobInput(
      startAfterPartition = required(doc, "start_after_partition"),
      endBeforePartition = required(doc, "end_before_partition"),
      s3uriList = doc.path("s3uri_list").asScala.map(_.asText).toSeq)
  }

  def writeJobInput(j: JobInput, path: String): Unit =
    replaceAtomically(path, jobInputToJson(j))

  def readJobInput(path: String): JobInput =
    jobInputFromJson(Files.readString(Paths.get(path)))
}
