package graft.orchestrate

import java.time.{Duration, Instant}

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The pure tracker state machine — the tests the reference intended
  * (tests/test_incremental_load_orchestration.py:12-46 imports a
  * sibling project and never ran; these are the working equivalent).
  */
class CdcTrackerSpec extends AnyFunSuite {
  import CdcTracker._

  test("partition format round-trips (property, 500 seeded samples)") {
    val r = new Random(42)
    (1 to 500).foreach { _ =>
      val t = Instant.ofEpochSecond(r.between(0L, 4102444800L)).truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
      assert(parsePartition(partitionOf(t)) === t)
    }
  }

  test("partition strings order like their instants (lexicographic safety of P9)") {
    val r = new Random(7)
    (1 to 500).foreach { _ =>
      val a = Instant.ofEpochSecond(r.between(0L, 4102444800L))
      val b = Instant.ofEpochSecond(r.between(0L, 4102444800L))
      val (ta, tb) = (a.truncatedTo(java.time.temporal.ChronoUnit.MINUTES),
        b.truncatedTo(java.time.temporal.ChronoUnit.MINUTES))
      assert((partitionOf(ta) < partitionOf(tb)) === ta.isBefore(tb))
    }
  }

  test("nextRange is half-open [last+1min, min(now-wm, last+max)+1min)") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    val now = Instant.parse("2024-01-01T00:10:30Z")
    val Some((lo, hi)) = nextRange(st, now): @unchecked
    assert(lo === "year=2024/month=01/day=01/hour=00/minute=01")
    // now - 2min = 00:08:30 -> minute 00:08 inclusive -> hi exclusive 00:09
    assert(hi === "year=2024/month=01/day=01/hour=00/minute=09")
  }

  test("watermark makes a too-fresh range empty (T6 fast path)") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    assert(nextRange(st, Instant.parse("2024-01-01T00:02:59Z")).isEmpty)
    // at 00:03:00, now-2min = 00:01 >= lo 00:01 -> nonempty
    assert(nextRange(st, Instant.parse("2024-01-01T00:03:00Z")).nonEmpty)
  }

  test("maxInterval caps catch-up range (T4)") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    val now = Instant.parse("2024-06-01T00:00:00Z")
    val Some((_, hi)) = nextRange(st, now, maxInterval = Duration.ofMinutes(30)): @unchecked
    assert(hi === "year=2024/month=01/day=01/hour=00/minute=31")
  }

  test("plan filters lexicographically and caps at maxFiles (O4)") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    val now = Instant.parse("2024-01-02T00:00:00Z")
    val files = (0 until 300).map { i =>
      f"year=2024/month=01/day=01/hour=${i / 60}%02d/minute=${i % 60}%02d/part.json"
    }
    val Some(p) = plan(st, now, Random.shuffle(files), maxFiles = 100): @unchecked
    assert(p.files.size === 100)
    assert(p.files === p.files.sorted)
    // minute=00 is excluded (range starts at last+1min)
    assert(!p.files.exists(_.contains("hour=00/minute=00")))
    assert(p.files.head.contains("hour=00/minute=01"))
  }

  test("launched/completed state machine advances the cursor (T5)") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    val now = Instant.parse("2024-01-01T01:00:00Z")
    val Some(p) = plan(st, now, Seq("year=2024/month=01/day=01/hour=00/minute=05/f.json")): @unchecked
    val running = launched(st, p, "run-1")
    assert(!running.readyToRunNext)
    assert(running.nextProcessedPartition === Some(p.endBeforePartition))
    val done = completed(running)
    assert(done.readyToRunNext)
    // cursor = last minute INSIDE the half-open range
    assert(done.lastProcessedPartition ===
      partitionOf(parsePartition(p.endBeforePartition).minus(Duration.ofMinutes(1))))
    assert(done.nextProcessedPartition === None)
  }

  test("after a failed tick the next plan is the failed one") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, Some("run-0"), true)
    val now = Instant.parse("2024-01-01T01:00:00Z")
    val files = Seq("year=2024/month=01/day=01/hour=00/minute=05/f.json",
      "year=2024/month=01/day=01/hour=00/minute=07/g.json")
    val Some(p) = plan(st, now, files, maxInterval = Duration.ofMinutes(6)): @unchecked
    val retry = failed(launched(st, p, "run-1"))
    assert(retry === State(st.lastProcessedPartition, None, Some("run-1"), readyToRunNext = true))
    assert(plan(retry, now, files, maxInterval = Duration.ofMinutes(6)) === Some(p))
  }

  test("empty-plan tick leaves cursor unchanged via completed on idle state") {
    val st = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, false)
    assert(completed(st).readyToRunNext)
    assert(completed(st).lastProcessedPartition === st.lastProcessedPartition)
  }

  /** A catch-up over `minutes` landed minutes of `perMinute` files each,
    * ticked with `cap` until a plan selects nothing: every plan's files,
    * in tick order.
    */
  private def catchUp(minutes: Int, perMinute: Int, cap: Int): Seq[Seq[String]] = {
    val st0 = State("year=2024/month=01/day=01/hour=00/minute=00", None, None, true)
    val landed = for (m <- 1 to minutes; k <- 1 to perMinute) yield
      f"${partitionOf(parsePartition(st0.lastProcessedPartition).plus(Duration.ofMinutes(m)))}/part-$k%03d.json"
    val now = Instant.parse("2024-01-02T00:00:00Z")
    Iterator.iterate((st0, Seq.empty[String])) { case (st, _) =>
      val p = plan(st, now, Random.shuffle(landed), maxFiles = cap)
      (p.fold(st)(pl => completed(launched(st, pl, "run"))), p.fold(Seq.empty[String])(_.files))
    }.drop(1).map(_._2).takeWhile(_.nonEmpty).take(10000).toSeq
  }

  private def landedCount(ticks: Seq[Seq[String]]) = ticks.flatten.distinct.size

  test("a capped catch-up over one-file minutes merges every file (T4)") {
    val ticks = catchUp(minutes = 300, perMinute = 1, cap = 100)
    assert(ticks.flatten.size === 300 && landedCount(ticks) === 300)
    assert(ticks.map(_.size) === Seq(100, 100, 100))
  }

  test("a capped catch-up never splits a minute and never drops one (T4)") {
    for ((perMinute, cap) <- Seq((3, 100), (7, 20))) {
      val ticks = catchUp(minutes = 300, perMinute = perMinute, cap = cap)
      assert(ticks.flatten.size === 300 * perMinute, s"($perMinute, $cap) re-merged or dropped files")
      assert(landedCount(ticks) === 300 * perMinute)
      assert(ticks.forall(_.size <= cap))
      // whole minutes only: each tick takes cap / perMinute minutes
      assert(ticks.init.forall(_.size === cap / perMinute * perMinute))
    }
  }

  test("a first minute holding more files than the cap is taken whole") {
    val ticks = catchUp(minutes = 2, perMinute = 150, cap = 100)
    assert(ticks.map(_.size) === Seq(150, 150))
    assert(ticks.head.forall(_.contains("hour=00/minute=01/")))
    assert(landedCount(ticks) === 300)
  }
}
