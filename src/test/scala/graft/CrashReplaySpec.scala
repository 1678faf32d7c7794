package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Duration

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Ingest, TableWriter}
import graft.orchestrate.CdcTracker
import graft.query.QuerySurface
import graft.streaming.CdcStream

/** A lake write killed at any file-system call it makes, then run
  * again, leaves the lake exactly as one clean run would. The lake sits
  * on [[FaultyFs]], which fails the armed `create`, `rename` or
  * `delete`; a fault point is the index of that call within the run.
  */
class CrashReplaySpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; FaultyFs.register(); s }

  /** (account, create day, update_at, note) */
  private type Ev = (String, Int, String, String)

  private def ts(day: Int, min: Int, sec: Int) = f"2024-01-$day%02dT00:$min%02d:$sec%02d.000000+0000"

  // an account's create_at second is its number, so its id names one day
  private def createAt(e: Ev) = ts(e._2, 0, e._1.stripPrefix("acc-").toInt)

  private def flat(evs: Seq[Ev]): DataFrame = {
    val s = spark
    import s.implicits._
    evs.map(e => (e._1, createAt(e), e._3, "shop", 1, 0, e._4))
      .toDF("account", "create_at", "update_at", "entity", "amount", "is_credit", "note")
  }

  /** The lake every run must end with: the latest version per key. */
  private def truth(evs: Seq[Ev]): DataFrame =
    Ingest.toLakeRows(flat(evs.groupBy(e => (e._1, e._2)).values.map(_.maxBy(_._3)).toSeq))

  private def assertLakeIs(want: DataFrame, lake: String, clue: String): Unit = {
    val (onlyTruth, onlyLake) = QuerySurface.compare(want,
      TableWriter.read(spark, lake).select(want.columns.map(col).toIndexedSeq: _*))
    assert(onlyTruth.isEmpty && onlyLake.isEmpty,
      s"$clue: ${onlyTruth.count()} truth rows missing, ${onlyLake.count()} extra lake rows")
  }

  private def tmp(name: String): Path = Files.createTempDirectory(name)

  // three days of five accounts; the delta updates two keys and inserts
  // one in each day, so every day keeps rows the delta does not name
  private val snapshot: Seq[Ev] =
    for (d <- 1 to 3; a <- 1 to 5) yield (s"acc-${10 * d + a}", d, ts(d, 0, 10 * d + a), "v0")
  private val delta: Seq[Ev] = (1 to 3).flatMap(d => Seq(
    (s"acc-${10 * d + 1}", d, ts(9, 0, d), "v1"), (s"acc-${10 * d + 2}", d, ts(9, 0, d), "v1"),
    (s"acc-${10 * d + 9}", d, ts(9, 0, d), "new")))

  test("a merge commit killed at any file-system call replays exact") {
    val snap = Ingest.toLakeRows(flat(snapshot))
    val d = Ingest.toLakeRows(flat(delta))
    val want = truth(snapshot ++ delta)
    def freshLake(): String = {
      val lake = FaultyFs.path(tmp("graft_crash_commit").resolve("lake"))
      FaultyFs.arm()
      TableWriter.bulkWrite(snap, lake)
      lake
    }
    val clean = freshLake()
    val calls = FaultyFs.callsOf(TableWriter.mergeCommit(spark, d, clean))
    assertLakeIs(want, clean, "clean run")
    val unfired = Seq.newBuilder[Int]
    val bad = (1 to calls).filterNot { n =>
      val lake = freshLake()
      FaultyFs.arm(n)
      if (Try(TableWriter.mergeCommit(spark, d, lake)).isSuccess) unfired += n
      FaultyFs.arm()
      TableWriter.mergeCommit(spark, d, lake)
      Try(assertLakeIs(want, lake, s"fault $n")).isSuccess
    }
    assert(bad.isEmpty, s"the replay was not exact at fault points $bad of $calls")
    assert(unfired.result().isEmpty, s"fault points ${unfired.result()} of $calls did not kill the commit")
  }

  /** Lands `evs` minute-partitioned by update_at, one file per minute. */
  private def land(evs: Seq[Ev], dir: Path): String = {
    Ingest.landCdc(flat(evs), dir.toString)
    dir.toString
  }

  // one landed minute per micro-batch: the first creates the lake, the
  // second updates and inserts in every day
  private val streamed: Seq[Ev] =
    snapshot.map(e => (e._1, e._2, ts(9, 1, e._2), e._4)) ++ delta.map(e => (e._1, e._2, ts(9, 2, e._2), e._4))

  test("a merge stream killed at any commit fault resumes from its checkpoint exact") {
    val landing = land(streamed, tmp("graft_crash_landing"))
    val want = truth(streamed)
    def stream(root: Path, lake: String): Unit =
      CdcStream.mergeStream(spark, landing, lake, root.resolve("ckpt").toString,
        maxFilesPerTrigger = 1, availableNow = true).awaitTermination()
    val root0 = tmp("graft_crash_stream")
    val clean = FaultyFs.path(root0.resolve("lake"))
    val calls = FaultyFs.callsOf(stream(root0, clean))
    assertLakeIs(want, clean, "clean run")
    val unfired = Seq.newBuilder[Int]
    val bad = (1 to calls).filterNot { n =>
      val root = tmp("graft_crash_stream")
      val lake = FaultyFs.path(root.resolve("lake"))
      FaultyFs.arm(n)
      if (Try(stream(root, lake)).isSuccess) unfired += n
      FaultyFs.arm()
      stream(root, lake) // the restart, from the same checkpoint
      Try(assertLakeIs(want, lake, s"fault $n")).isSuccess
    }
    assert(bad.isEmpty, s"the resumed stream was not exact at fault points $bad of $calls")
    assert(unfired.result().isEmpty, s"fault points ${unfired.result()} of $calls did not stop the stream")
  }

  /** Tracker ticks of one landed minute each over `landing` into `lake`,
    * until the cursor reaches the last landed minute. Tick `t`'s commit
    * fails at its `failAt(t)`th mutating call (0: none), and a commit
    * that dies is reported through [[CdcTracker.failed]]. Returns each
    * tick's mutating calls and whether its commit died.
    */
  private def ticks(landing: String, lake: String, failAt: Int => Int): Seq[(Int, Boolean)] = {
    val files = {
      val w = Files.walk(Paths.get(landing))
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".json"))
        .map(p => Paths.get(landing).relativize(p).toString).toSeq
      finally w.close()
    }
    val minutes = files.map(f => CdcTracker.parsePartition(f.split('/').init.mkString("/"))).sorted
    val now = minutes.last.plus(Duration.ofMinutes(3))
    var state = CdcTracker.State(CdcTracker.partitionOf(minutes.head.minus(Duration.ofMinutes(1))),
      None, None, readyToRunNext = true)
    val out = Seq.newBuilder[(Int, Boolean)]
    var tick = 0
    while (tick < 20 && CdcTracker.parsePartition(state.lastProcessedPartition).isBefore(minutes.last)) {
      val p = CdcTracker.plan(state, now, files, maxInterval = Duration.ofMinutes(1)).get
      val running = CdcTracker.launched(state, p, s"run-$tick")
      FaultyFs.arm(failAt(tick))
      val died = Try(TableWriter.mergeCommit(spark,
        Ingest.toLakeRows(Ingest.readCdcFiles(spark, p.files.map(f => s"$landing/$f"))), lake)).isFailure
      out += FaultyFs.count -> died
      FaultyFs.arm()
      state = if (died) CdcTracker.failed(running) else CdcTracker.completed(running)
      tick += 1
    }
    out.result()
  }

  test("a tracker tick whose commit dies is retried, and the lake ends exact") {
    val landing = land(streamed, tmp("graft_crash_tick_landing"))
    val clean = ticks(landing, FaultyFs.path(tmp("graft_crash_tick").resolve("lake")), _ => 0)
    assert(clean.map(_._2) === Seq(false, false))
    // the second tick's commit dies at its last call, a delete of a file
    // it read, after its new files are written; advancing past that tick
    // would leave the old and new versions of its keys side by side
    val lake = FaultyFs.path(tmp("graft_crash_tick").resolve("lake"))
    val faulty = ticks(landing, lake, t => if (t == 1) clean(1)._1 else 0)
    assert(faulty.map(_._2) === Seq(false, true, false), "the second tick must die once and be retried")
    assertLakeIs(truth(streamed), lake, "after the retried tick")
  }
}
