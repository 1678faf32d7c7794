package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The heart of the engine: latest-wins key-based merge, replacing the
  * Hudi upsert the reference delegates to
  * (glue_jobs/incremental.py:172-194: recordkey.field=id,
  * precombine.field=update_at) plus the in-batch window dedup
  * (incremental.py:154-163).
  *
  * Scale notes (100 TB): dedupLatest and upsert are each a single hash
  * shuffle on the record key — Catalyst plans them as one Exchange +
  * WindowExec. upsert does the reference's pre-upsert in-batch dedup
  * inside its own window (one exchange over delta ∪ snapshot, not a
  * delta shuffle followed by a union shuffle), so the delta is never
  * shuffled twice. For repeated merges at scale, bucketing
  * the snapshot by `id` would make the merge shuffle-free on the
  * snapshot side; with AQE on, skewed keys are split automatically.
  */
object Merge {

  /** Collapse multiple CDC events for the same key inside one batch to
    * the latest version (incremental.py:154-163 = W1).
    *
    * `row_number` over equal `versionCol` values is non-deterministic,
    * a latent issue the reference shares (SURVEY.md §7.6 item 4) — so we
    * always add deterministic tiebreakers.
    */
  def dedupLatest(
      df: DataFrame,
      keyCol: String = "id",
      versionCol: String = "update_at",
      tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    val order = (col(versionCol).desc +: tiebreak) :+ contentTiebreak(df)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // Content-derived last-resort total order: stable across runs and
  // partitionings (unlike monotonically_increasing_id). A single long
  // sort key instead of a wide all-columns struct comparator. xxhash64
  // SKIPS null inputs (two rows differing only in WHICH column is null
  // would collide), so a null-bitmap long is hashed alongside the
  // values; rows that still tie are byte-identical (or an
  // astronomically unlikely collision, where any winner is valid).
  private def contentTiebreak(df: DataFrame): Column = {
    val cols = df.columns.map(col).toIndexedSeq
    val nullBitmap = cols.zipWithIndex.map { case (c, i) =>
      when(c.isNull, lit(1L << (i % 64))).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    xxhash64((nullBitmap +: cols): _*).asc
  }

  /** Upsert: merge `delta` into `snapshot`, latest `versionCol` per
    * `keyCol` wins; on version ties the delta row wins (matching Hudi's
    * precombine-then-upsert behavior where the incoming record replaces
    * the stored one on equal precombine values).
    *
    * The delta's in-batch dedup is folded into the same window: ordering
    * by (version desc, delta first, content tiebreak) picks exactly the
    * row [[dedupLatest]]-then-union would (the delta's latest version,
    * its content tiebreak among equal versions, and the delta over the
    * snapshot on a tie), with one exchange instead of two.
    *
    * Pure DataFrame -> DataFrame so the DuckDB oracle can check it, and
    * idempotent under replay: merging the same delta twice is a no-op
    * (T8 in SURVEY.md §2.9) — verified as a seeded property test in
    * MergeSpec ("upsert is idempotent under replay").
    */
  def upsert(
      snapshot: DataFrame,
      delta: DataFrame,
      keyCol: String = "id",
      versionCol: String = "update_at"): DataFrame = {
    val cols = snapshot.columns.toIndexedSeq
    val d = delta.selectExpr(cols: _*).withColumn("__src", lit(0)) // 0 = delta: wins version ties
    val s = snapshot.withColumn("__src", lit(1))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").asc, contentTiebreak(snapshot))
    d.unionByName(s)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Join-shaped upsert, equivalent to [[upsert]] (latest wins, delta
    * wins version ties) but expressed as a full-outer join on the key
    * instead of union+window.
    *
    * Why it exists: a union discards its children's partitioning, so
    * the union+window plan re-shuffles BOTH sides even when the
    * snapshot is bucketed by the key. The join formulation lets a
    * bucketed snapshot (see [[graft.ingest.BucketedLake]]) merge with
    * NO exchange on the snapshot side — the delta alone is shuffled
    * into the snapshot's bucketing, O(delta) bytes per tick at 100 TB.
    */
  def upsertJoin(
      snapshot: DataFrame,
      delta: DataFrame,
      keyCol: String = "id",
      versionCol: String = "update_at"): DataFrame = {
    val cols = snapshot.columns.toIndexedSeq
    val d0 = dedupLatest(delta.selectExpr(cols: _*), keyCol, versionCol)
    val d = d0.filter(col(keyCol).isNotNull)
      .select(cols.map(c => col(c).as(s"__d_$c")) :+ lit(true).as("__d_present"): _*)
    val s = snapshot.filter(col(keyCol).isNotNull).withColumn("__s_present", lit(true))
    // Plain === join ON PURPOSE: a null-safe <=> key is planned as
    // (coalesce(key,…), isnull(key)) join keys, which disables the
    // bucketed-scan matching this formulation exists for. Null keys
    // can't equi-join, so both sides' null-key slices (normally empty;
    // id is a concat of required fields) detour through the union+window
    // upsert below, which groups all null keys into one partition —
    // keeping the law upsertJoin == upsert even there.
    val joined = s.join(d, col(keyCol) === col(s"__d_$keyCol"), "full_outer")
    // presence = a constant marker carried through the full-outer join
    // (null on the absent side). Key nullity would misclassify rows on
    // other grounds; markers are unambiguous. Delta-only rows win even
    // with a null version, and ties/null-versions resolve delta-first
    // exactly like upsert().
    val deltaPresent = col("__d_present").isNotNull
    val snapPresent = col("__s_present").isNotNull
    val useDelta = deltaPresent && (!snapPresent || col(versionCol).isNull ||
      (col(s"__d_$versionCol").isNotNull && col(s"__d_$versionCol") >= col(versionCol)))
    val merged = joined.select(cols.map(c =>
      when(useDelta, col(s"__d_$c")).otherwise(col(c)).as(c)): _*)
    val nullSlice = upsert(snapshot.filter(col(keyCol).isNull),
      d0.filter(col(keyCol).isNull), keyCol, versionCol)
    merged.unionByName(nullSlice)
  }

  /** REMOVE handling: the reference drops deletes by design
    * (dynamodb_stream_consumer.py:38-39, README.rst:62). We keep that
    * default but expose a tombstone mode so the design isn't painted
    * into a corner (SURVEY.md §7.6 item 6).
    */
  def filterRemoves(events: DataFrame, eventNameCol: String = "eventName"): DataFrame =
    events.filter(col(eventNameCol) =!= "REMOVE")

  /** Tombstone-aware upsert: REMOVE rows in `delta` (flagged by
    * `isDelete`) drop the key from the result instead of being ignored.
    * `tiebreak` extends the (version desc, delete-first) order to a
    * total one — pass the event sequence column so equal-version
    * duplicates resolve identically in any engine (the same contract as
    * [[dedupLatest]]; without it the content-hash last resort decides,
    * which an external oracle cannot reproduce).
    */
  def upsertWithTombstones(
      snapshot: DataFrame,
      delta: DataFrame,
      isDelete: Column,
      keyCol: String = "id",
      versionCol: String = "update_at",
      tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    val cols = snapshot.columns.toIndexedSeq
    val d = delta.withColumn("__del", isDelete.cast("int"))
      .selectExpr((cols :+ "__del"): _*)
    val s = snapshot.withColumn("__del", lit(0))
    val w = Window.partitionBy(col(keyCol))
      .orderBy((col(versionCol).desc +: col("__del").desc +: tiebreak): _*)
    dedupLatest(d, keyCol, versionCol, col("__del").desc +: tiebreak)
      .unionByName(s)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__del") === 0)
      .drop("__rn", "__del")
  }

  /** SCD type-2 history: instead of collapsing each key to its latest
    * version (what [[upsert]] does, mirroring the reference's Hudi
    * path), keep EVERY version as a row with a validity interval —
    * `valid_from` = its own version, `valid_to` = the next version of
    * the same key (null = still current, flagged `is_current`). The
    * standard warehouse shape for "what did this record say at time t"
    * queries, answered with `valid_from <= t AND (valid_to > t OR
    * is_current)`.
    *
    * One hash shuffle on the key + one window `lead` — the same scale
    * profile as dedupLatest. `tiebreak` totally orders equal-version
    * duplicates (same contract as everywhere in this API); pass the
    * ingest sequence column when the source can emit them.
    */
  def scd2History(df: DataFrame, keyCols: Seq[String],
                  versionCol: String = "update_at",
                  tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(versionCol).asc +: tiebreak) :+ contentTiebreak(df): _*)
    df.withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
