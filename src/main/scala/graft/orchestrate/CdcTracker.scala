package graft.orchestrate

import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

/** Pure-functional port of the reference's CDC orchestration state
  * machine (dynamodb_to_datalake/incremental_load_orchestration.py:39-330).
  *
  * The reference persists this as a JSON document on S3 and mutates it
  * from a 60s cron loop; here it is an immutable value + pure
  * transition functions, so the range computation, watermark clamp and
  * file cap are unit-testable exactly like the reference's (broken)
  * tests intended. The Structured Streaming variant
  * (graft.streaming.CdcStream) replaces the whole tracker with a
  * checkpoint — this class exists for batch/cron-style operation and
  * for capability parity.
  */
object CdcTracker {
  /** Partition-path minute format: `year=%Y/month=%m/day=%d/hour=%H/minute=%M`
    * (orchestration.py:32).
    */
  private val fmt = DateTimeFormatter
    .ofPattern("'year='yyyy'/month='MM'/day='dd'/hour='HH'/minute='mm")
    .withZone(ZoneOffset.UTC)

  def partitionOf(t: Instant): String = fmt.format(t.truncatedTo(ChronoUnit.MINUTES))

  def parsePartition(p: String): Instant = {
    val re = raw"year=(\d{4})/month=(\d{2})/day=(\d{2})/hour=(\d{2})/minute=(\d{2})".r
    p match {
      case re(y, mo, d, h, mi) =>
        Instant.parse(f"$y-$mo-${d}T$h:$mi:00Z")
      case _ => throw new IllegalArgumentException(s"bad partition: $p")
    }
  }

  /** Tracker state (orchestration.py:141-154). */
  final case class State(
      lastProcessedPartition: String,
      nextProcessedPartition: Option[String],
      lastRunId: Option[String],
      readyToRunNext: Boolean)

  object State {
    def bootstrap(now: Instant): State =
      State(partitionOf(now.minus(Duration.ofMinutes(2))), None, None,
        readyToRunNext = true)
  }

  /** Planned work for one tick: half-open minute range + capped files. */
  final case class Plan(
      startAfterPartition: String, // exclusive lower bound
      endBeforePartition: String,  // exclusive upper bound
      files: Seq[String])

  /** Compute the next half-open partition range
    * `[last + 1min, min(now - watermark, last + maxInterval))`
    * (orchestration.py:190-225). Returns None when the watermark makes
    * the range empty (T6 empty-batch fast-path).
    *
    * @param watermark late-data safety margin, 2 min in the reference
    *                  (orchestration.py:204 = T3)
    */
  def nextRange(state: State, now: Instant,
                maxInterval: Duration = Duration.ofDays(365),
                watermark: Duration = Duration.ofMinutes(2)): Option[(String, String)] = {
    val last = parsePartition(state.lastProcessedPartition)
    val lo = last.plus(Duration.ofMinutes(1))
    // latest processable minute: min(now - watermark, last + maxInterval)
    val hiWm = now.minus(watermark).truncatedTo(ChronoUnit.MINUTES)
    val hiCap = last.plus(maxInterval)
    val hiIncl = if (hiWm.isBefore(hiCap)) hiWm else hiCap
    if (hiIncl.isBefore(lo)) None
    else Some((partitionOf(lo), partitionOf(hiIncl.plus(Duration.ofMinutes(1)))))
  }

  /** Select landed files lexicographically inside the range and cap at
    * maxFiles (orchestration.py:194-225 = P9/O4). `files` are
    * partition-relative paths starting with `year=`; the lexicographic
    * range predicate works because the partition format zero-pads.
    *
    * The plan's range is what [[launched]] records and [[completed]]
    * moves the cursor past, so a cap never leaves a file behind it
    * (bounded catch-up resumes, T4): when the cap cuts, the range ends
    * at the minute of the first file left out, and a minute the cap
    * would split leads the next tick. The one exception to the cap is a
    * first minute that alone holds more than `maxFiles` files: it is
    * taken whole, so the cursor always advances.
    */
  def plan(state: State, now: Instant, files: Seq[String],
           maxFiles: Int = 100,
           maxInterval: Duration = Duration.ofDays(365),
           watermark: Duration = Duration.ofMinutes(2)): Option[Plan] =
    nextRange(state, now, maxInterval, watermark).map { case (lo, hi) =>
      val inRange = files.sorted.filter(f => f >= lo && f < hi) // half-open [lo, hi)
      if (inRange.length <= maxFiles) Plan(lo, hi, inRange)
      else {
        def minute(f: String) = f.take(lo.length)
        val cut = minute(inRange(maxFiles))
        inRange.take(maxFiles).takeWhile(minute(_) < cut) match {
          case Seq() => Plan(lo, partitionOf(parsePartition(cut).plus(Duration.ofMinutes(1))),
            inRange.takeWhile(minute(_) == cut))
          case whole => Plan(lo, cut, whole)
        }
      }
    }

  /** Job launched: remember the in-flight range (orchestration.py:240-277). */
  def launched(state: State, plan: Plan, runId: String): State =
    state.copy(
      nextProcessedPartition = Some(plan.endBeforePartition),
      lastRunId = Some(runId),
      readyToRunNext = false)

  /** Job succeeded: advance the cursor past the launched range
    * (orchestration.py:286-330 = T5). A tick with nothing to launch
    * completes too, leaving the cursor where it is. A failed job goes
    * through [[failed]] instead: the reference advances on any terminal
    * state, which skips a failed range for good.
    */
  def completed(state: State): State =
    state.nextProcessedPartition match {
      case Some(next) => State(
        // cursor = last minute INSIDE the processed half-open range
        partitionOf(parsePartition(next).minus(Duration.ofMinutes(1))),
        None, state.lastRunId, readyToRunNext = true)
      case None => state.copy(readyToRunNext = true)
    }

  /** Job failed: keep the cursor, drop the in-flight range and allow the
    * next tick, whose [[plan]] then covers the failed range again. The
    * retry is exact because a merge commit replays exact (latest-wins,
    * T8), whatever point the failed one died at.
    */
  def failed(state: State): State =
    state.copy(nextProcessedPartition = None, readyToRunNext = true)
}
