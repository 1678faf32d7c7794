package graft.orchestrate

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

/** JSON persistence for the tracker state machine and the per-tick job
  * input — the reference round-trips both through S3 documents
  * (incremental_load_orchestration.py:89-154 CDCTracker.read/write,
  * :240-277 GlueJobInput) so a cron orchestrator survives restarts.
  * Hand-rolled serde for two tiny fixed-shape documents (no JSON
  * library in the dependency budget); field names mirror the reference.
  */
object Persist {

  // -- minimal JSON helpers (string/bool/array-of-string fields only) --

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Single left-to-right pass: each escape is decoded exactly once
    * (a replace-chain would re-interpret backslashes produced by an
    * earlier replacement, corrupting e.g. the literal two chars "\n").
    */
  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => out += '"'; i += 2
          case '\\' => out += '\\'; i += 2
          case 'n' => out += '\n'; i += 2
          case 'r' => out += '\r'; i += 2
          case 't' => out += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => out += other; i += 2
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private def strField(json: String, name: String): Option[String] = {
    val re = ("\"" + name + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    re.findFirstMatchIn(json).map(m => unescape(m.group(1)))
  }

  private def boolField(json: String, name: String): Option[Boolean] = {
    val re = ("\"" + name + "\"\\s*:\\s*(true|false)").r
    re.findFirstMatchIn(json).map(_.group(1).toBoolean)
  }

  /** Quote-aware scan to the MATCHING ']' (a ']' inside a quoted
    * element must not terminate the array), then extract the quoted
    * elements.
    */
  private def arrField(json: String, name: String): Option[Seq[String]] = {
    val startRe = ("\"" + name + "\"\\s*:\\s*\\[").r
    startRe.findFirstMatchIn(json).map { m =>
      var i = m.end
      var inString = false
      var escaped = false
      val body = new StringBuilder
      var done = false
      while (i < json.length && !done) {
        val c = json.charAt(i)
        if (escaped) { body += c; escaped = false }
        else if (inString && c == '\\') { body += c; escaped = true }
        else if (c == '"') { body += c; inString = !inString }
        else if (c == ']' && !inString) done = true
        else body += c
        i += 1
      }
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body.toString)
        .map(m2 => unescape(m2.group(1))).toSeq
    }
  }

  /** Writes the whole document or nothing, as the reference's S3 PUT
    * does: the text goes to a temp file beside `path`, which then
    * replaces `path` in one rename. A crash mid-write leaves the old
    * document readable plus a stray temp file, which no reader looks at
    * and the next write of the same document does not depend on.
    */
  private def replaceAtomically(path: String, text: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, text, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  // -- CDCTracker.State <-> JSON (orchestration.py:141-154) ------------

  def stateToJson(s: CdcTracker.State): String = {
    val next = s.nextProcessedPartition.map(jstr).getOrElse("null")
    val run = s.lastRunId.map(jstr).getOrElse("null")
    s"""{"last_processed_partition": ${jstr(s.lastProcessedPartition)},
       | "next_processed_partition": $next,
       | "last_run_id": $run,
       | "ready_to_run_next": ${s.readyToRunNext}}""".stripMargin
  }

  def stateFromJson(json: String): CdcTracker.State = CdcTracker.State(
    lastProcessedPartition = strField(json, "last_processed_partition")
      .getOrElse(throw new IllegalArgumentException("missing last_processed_partition")),
    nextProcessedPartition = strField(json, "next_processed_partition"),
    lastRunId = strField(json, "last_run_id"),
    readyToRunNext = boolField(json, "ready_to_run_next").getOrElse(true))

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

  def jobInputToJson(j: JobInput): String =
    s"""{"start_after_partition": ${jstr(j.startAfterPartition)},
       | "end_before_partition": ${jstr(j.endBeforePartition)},
       | "s3uri_list": [${j.s3uriList.map(jstr).mkString(", ")}]}""".stripMargin

  def jobInputFromJson(json: String): JobInput = JobInput(
    startAfterPartition = strField(json, "start_after_partition")
      .getOrElse(throw new IllegalArgumentException("missing start_after_partition")),
    endBeforePartition = strField(json, "end_before_partition")
      .getOrElse(throw new IllegalArgumentException("missing end_before_partition")),
    s3uriList = arrField(json, "s3uri_list").getOrElse(Seq.empty))

  def writeJobInput(j: JobInput, path: String): Unit =
    replaceAtomically(path, jobInputToJson(j))

  def readJobInput(path: String): JobInput =
    jobInputFromJson(Files.readString(Paths.get(path)))
}
