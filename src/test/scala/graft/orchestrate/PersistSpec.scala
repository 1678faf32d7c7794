package graft.orchestrate

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Random

class PersistSpec extends AnyFunSuite {
  import Persist._

  private def tmp(name: String) =
    Files.createTempDirectory("graft_persist").resolve(name).toString

  test("tracker state JSON round-trips (property, 200 seeded samples)") {
    val r = new Random(42)
    (1 to 200).foreach { i =>
      val s = CdcTracker.State(
        lastProcessedPartition = f"year=20${r.nextInt(40)}%02d/month=01/day=01/hour=00/minute=${r.nextInt(60)}%02d",
        nextProcessedPartition = if (r.nextBoolean()) Some(s"p-$i") else None,
        lastRunId = if (r.nextBoolean()) Some(s"run-$i") else None,
        readyToRunNext = r.nextBoolean())
      assert(stateFromJson(stateToJson(s)) === s)
    }
  }

  test("tracker state survives a file round-trip") {
    val s = CdcTracker.State("year=2024/month=01/day=01/hour=00/minute=00",
      Some("year=2024/month=01/day=01/hour=01/minute=00"), Some("run-9"), readyToRunNext = false)
    val p = tmp("state.json")
    writeState(s, p)
    assert(readState(p) === Some(s))
    assert(readState(p + ".missing") === None)
  }

  test("job input round-trips incl. empty and escaped URIs") {
    val cases = Seq(
      JobInput("year=2024/month=01/day=01/hour=00/minute=01",
        "year=2024/month=01/day=01/hour=00/minute=09",
        Seq("s3://b/p/f1.json", "s3://b/p/f \"quoted\".json")),
      JobInput("a", "b", Seq.empty),
      // the hostile cases: literal backslash-n, brackets inside URIs,
      // tabs/control chars (encoded as \uXXXX), trailing backslash-ish
      JobInput("a\\nb", "c\td",
        Seq("s3://b/part[0].json", "s3://b/f]2.json", "s3://b/back\\slash.json")))
    cases.foreach { j =>
      assert(jobInputFromJson(jobInputToJson(j)) === j)
      val p = tmp("input.json")
      writeJobInput(j, p)
      assert(readJobInput(p) === j)
    }
  }

  test("state round-trips strings with backslash escapes and control chars") {
    val s = CdcTracker.State("p\\n1", Some("x\"y"), Some("run\t9"), readyToRunNext = true)
    assert(stateFromJson(stateToJson(s)) === s)
  }

  test("documents written by the earlier hand-rolled serde still read") {
    // the exact text the previous stateToJson / jobInputToJson wrote
    val state =
      """{"last_processed_partition": "year=2024/month=01/day=01/hour=00/minute=00",
        | "next_processed_partition": "year=2024/month=01/day=01/hour=01/minute=00",
        | "last_run_id": "run-9",
        | "ready_to_run_next": false}""".stripMargin
    assert(stateFromJson(state) === CdcTracker.State("year=2024/month=01/day=01/hour=00/minute=00",
      Some("year=2024/month=01/day=01/hour=01/minute=00"), Some("run-9"), readyToRunNext = false))
    val fresh =
      """{"last_processed_partition": "year=2024/month=01/day=01/hour=00/minute=00",
        | "next_processed_partition": null,
        | "last_run_id": null,
        | "ready_to_run_next": true}""".stripMargin
    assert(stateFromJson(fresh) === CdcTracker.State("year=2024/month=01/day=01/hour=00/minute=00",
      None, None, readyToRunNext = true))
    // a plain literal, so the escaped tab reaches the parser as an escape
    val input =
      "{\"start_after_partition\": \"year=2024/month=01/day=01/hour=00/minute=01\",\n" +
        " \"end_before_partition\": \"year=2024/month=01/day=01/hour=00/minute=09\",\n" +
        " \"s3uri_list\": [\"s3://b/p/f1.json\", \"s3://b/p/f \\\"quoted\\\"\\u0009].json\"]}"
    assert(jobInputFromJson(input) === JobInput("year=2024/month=01/day=01/hour=00/minute=01",
      "year=2024/month=01/day=01/hour=00/minute=09",
      Seq("s3://b/p/f1.json", "s3://b/p/f \"quoted\"\t].json")))
    val empty =
      """{"start_after_partition": "a",
        | "end_before_partition": "b",
        | "s3uri_list": []}""".stripMargin
    assert(jobInputFromJson(empty) === JobInput("a", "b", Seq.empty))
    // the defaults and the loud failures
    assert(stateFromJson("""{"last_processed_partition": "p"}""") ===
      CdcTracker.State("p", None, None, readyToRunNext = true))
    assert(jobInputFromJson("""{"start_after_partition": "a", "end_before_partition": "b"}""") ===
      JobInput("a", "b", Seq.empty))
    assert(intercept[IllegalArgumentException](stateFromJson("""{"last_run_id": "r"}"""))
      .getMessage.contains("last_processed_partition"))
    assert(intercept[IllegalArgumentException](jobInputFromJson("""{"start_after_partition": "a"}"""))
      .getMessage.contains("end_before_partition"))
    assert(intercept[IllegalArgumentException](jobInputFromJson("""{"end_before_partition": "b"}"""))
      .getMessage.contains("start_after_partition"))
  }

  test("a document is replaced by rename, never rewritten in place; a crashed write's temp file changes nothing") {
    val s1 = CdcTracker.State("year=2024/month=01/day=01/hour=00/minute=00", None, Some("run-1"),
      readyToRunNext = true)
    val p = tmp("state.json")
    writeState(s1, p)
    val dir = Paths.get(p).getParent
    def names() = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    assert(names() === Set("state.json"))
    // a write cut off after its first bytes, as a crash would leave it
    val torn = stateToJson(s1.copy(lastProcessedPartition = "year=2024/month=01/day=01/hour=00/minute=05"))
    Files.writeString(dir.resolve(".state.json.crashed.tmp"), torn.take(20))
    assert(readState(p) === Some(s1))
    // a second name for the document's current file: rewriting that
    // file in place (what a crash can tear) would show through it
    val old = dir.resolve("old.json")
    Files.createLink(old, Paths.get(p))
    val s2 = s1.copy(lastProcessedPartition = "year=2024/month=01/day=01/hour=00/minute=09")
    writeState(s2, p)
    assert(readState(p) === Some(s2))
    assert(stateFromJson(Files.readString(old)) === s1, "the document was rewritten in place")
    assert(names() === Set("state.json", ".state.json.crashed.tmp", "old.json"))

    val in = tmp("input.json")
    writeJobInput(JobInput("a", "b", Seq("s3://b/f1.json")), in)
    writeJobInput(JobInput("a", "c", Seq.empty), in)
    assert(readJobInput(in) === JobInput("a", "c", Seq.empty))
    val inDir = Paths.get(in).getParent
    val ls = Files.list(inDir)
    try assert(ls.iterator().asScala.map(_.getFileName.toString).toSet === Set("input.json"))
    finally ls.close()
  }
}
