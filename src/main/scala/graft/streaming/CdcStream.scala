package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.{Ingest, TableWriter}
import graft.merge.{Materialize, Merge}
import graft.model.Schemas

/** Structured Streaming replacement for the reference's whole
  * cron+tracker+Glue orchestration (SURVEY.md §2.9): the checkpoint
  * replaces the S3 tracker document (T5), `maxFilesPerTrigger` replaces
  * the 100-file cap (T4/O4), the 10s processing-time trigger replaces
  * the Lambda batching window (T1), and the 2-minute watermark replaces
  * the orchestrator's `utcnow - 2min` clamp (T3).
  */
object CdcStream {

  /** Stream landed CDC JSON files and continuously merge them into the
    * lake table at `lakePath`. `foreachBatch` serializes merges exactly
    * like MaxConcurrentRuns=1 did for the Glue job.
    */
  def mergeStream(
      spark: SparkSession,
      landingDir: String,
      lakePath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 100,
      triggerInterval: String = "10 seconds",
      availableNow: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.flatCdcRow)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .json(landingDir)

    // AvailableNow = batch-checkable catch-up: drain everything already
    // landed in maxFilesPerTrigger-sized ticks (still exercising the
    // incremental merge loop), then stop — the oracle can then compare
    // the lake to a batch merge of the same files.
    val trig = if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerInterval)
    raw.writeStream
      .trigger(trig)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Partition-pruned merge: O(touched partitions) per tick, not
        // O(table), in three Spark jobs. An empty batch is a no-op that
        // its first job detects — see TableWriter.mergeCommit.
        TableWriter.mergeCommit(spark, Ingest.toLakeRows(batch), lakePath)
      }
      .start()
  }

  /** Stream of decoded CDC events -> minute-partitioned landing files,
    * replacing the stream-consumer Lambda (dynamodb_stream_consumer.py:
    * 62-90). REMOVE events dropped by design (T7).
    */
  def landingStream(
      events: DataFrame, // streaming DF with flatCdcRow cols + eventName
      landingDir: String,
      checkpointDir: String,
      triggerInterval: String = "10 seconds",
      availableNow: Boolean = false): StreamingQuery = {
    val flat = Ingest.withMinuteColumns(Merge.filterRemoves(events).drop("eventName"), "update_at")
    val trig = if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerInterval)
    flat.writeStream
      .trigger(trig)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("year", "month", "day", "hour", "minute")
      .format("json")
      .option("path", landingDir)
      .start()
  }

  /** Continuously-maintained latest-version-per-key state: the merge's
    * latest-wins semantics (W2/T8) expressed as CUSTOM STREAMING STATE
    * (`flatMapGroupsWithState`) instead of lake rewrites — emits a key's
    * row exactly when its latest version changes, making downstream
    * consumers incremental.
    *
    * State per key is ONE row (the current winner), so state-store size
    * is O(live keys) regardless of event volume; replays/duplicates are
    * absorbed exactly like the batch merge (same latest-wins rule, ties
    * favor the arriving event). This is the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` pattern the batch
    * tracker cannot express.
    */
  def latestPerKeyStream(events: Dataset[graft.model.CdcEvent]): Dataset[graft.model.CdcEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .filter(_.eventName != "REMOVE")
      .groupByKey(e => e.account + "\u0000" + e.create_at)
      .flatMapGroupsWithState[graft.model.CdcEvent, graft.model.CdcEvent](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state: GroupState[graft.model.CdcEvent]) =>
          // within a batch, ties resolve to the LATER arrival (event-log
          // order), matching the across-batch arriving-event-wins rule
          val incoming = rows.reduce((a, b) => if (b.update_at >= a.update_at) b else a)
          val winner = state.getOption match {
            case Some(cur) if cur.update_at > incoming.update_at => cur
            case _ => incoming // arriving event wins ties, like precombine
          }
          if (state.getOption.contains(winner)) Iterator.empty
          else { state.update(winner); Iterator.single(winner) }
      }
  }

  /** Streaming maintenance of a MERGEABLE pre-aggregate: each
    * micro-batch reduces to one HLL sketch per `dayCol` group
    * (O(batch) work, ~16 KB per group) and unions it into the persisted
    * sketch table — the streaming form of the hl1 rollup pattern.
    * Distinct-count analytics then read the sketch table, never the
    * raw stream history: freshness costs O(batch) per tick and queries
    * cost O(groups), at ANY retained-stream size. Only possible
    * because HLL union is associative+commutative — the property the
    * sketch family exists for.
    *
    * The read-merge-overwrite is serialized by foreachBatch (one batch
    * at a time) and the table is tiny (one row per group), so the
    * rewrite is O(groups), not O(stream).
    *
    * Crash safety (the commit design, not a disclosed gap): each epoch
    * writes a NEW snapshot dir `v=<batchId>` and then flips a pointer
    * file via create+atomic-rename — readers never observe a partial
    * table. Replay after any crash point is safe: before the pointer
    * flip, the replayed batch rebuilds `v=<batchId>` from the previous
    * snapshot; after the flip but before the checkpoint commit, the
    * replay merges the SAME batch sketch into a table that already
    * contains it — and HLL union is IDEMPOTENT (register-wise max), so
    * re-merging identical data cannot double-count. The exactly-once
    * guarantee rides the sketch algebra itself — the property that
    * makes sketches mergeable in the first place (idempotency law in
    * CdcStreamSpec).
    */
  def sketchMaintenance(stream: DataFrame, sketchDir: String,
                        dayCol: String, valueCol: String,
                        checkpointDir: String): Unit = {
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val bs = batch.groupBy(col(dayCol))
            .agg(expr(s"hll_sketch_agg($valueCol, 14)").as("sk"))
          val merged = currentSketches(s, sketchDir) match {
            case Some(cur) => cur.unionByName(bs)
              .groupBy(col(dayCol)).agg(expr("hll_union_agg(sk)").as("sk"))
            case None => bs
          }
          // snapshot dir per epoch: same-batch replay rewrites the same
          // dir (mode overwrite = idempotent), never the live snapshot;
          // the pointer flip is VersionedDir's atomic overwrite-rename
          graft.ingest.VersionedDir.publish(merged, sketchDir, batchId)
        }
      }
      .start().awaitTermination()
  }

  /** Curation-on-ingest: drain a document stream through a quality
    * gate, committing per-stratum (keep, drop) counts for EACH epoch to
    * its own `epoch=<batchId>` dir (mode overwrite ⇒ same-batch replay
    * rewrites the same dir — idempotent without sink transactions; the
    * [[graft.ops.SigStore]] discipline for additive state). Totals are
    * a sum over epoch files at read time, so no read-modify-write race
    * exists at all.
    *
    * At 100 TB of continuous ingest this is the shape of a streaming
    * curation monitor: the gate is a narrow codegen battery inside the
    * micro-batch, per-epoch state is O(strata) rows, and history is
    * append-only.
    */
  def streamQualityCounts(stream: DataFrame, outDir: String,
                          stratumCol: String, keepCol: String,
                          checkpointDir: String): Unit = {
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          batch.groupBy(col(stratumCol))
            .agg(count(lit(1)).cast("long").as("n_docs"),
              sum(when(col(keepCol), 1L).otherwise(0L)).cast("long").as("n_keep"))
            .write.mode("overwrite").parquet(s"$outDir/epoch=$batchId")
        }
      }
      .start().awaitTermination()
  }

  /** Streaming twin of [[Materialize.maintainAgg]]: each
    * micro-batch advances BOTH the keyed state table (tombstone upsert)
    * and the aggregate view (signed-delta maintenance) as versioned
    * snapshots (`v=batchId`), the view refreshed at delta cost — the
    * base is only consulted for batch-named keys, never rescanned.
    *
    * Replay safety without idempotent algebra: signed sums are NOT
    * idempotent (unlike hl2's HLL union), so a replayed batch must not
    * re-apply against a snapshot that already includes it. Each batch
    * therefore reads version `batchId − 1` EXPLICITLY (never the
    * `_LATEST` pointer) and rewrites `v=batchId` (mode overwrite) —
    * recomputing batch k from the k−1 snapshot is a pure function, so
    * crash-replay converges to the identical table. Readers still use
    * the atomically-flipped pointer. Empty batches republish the prior
    * content to keep the version chain unbroken.
    *
    * `snapshotPartitions` right-sizes the snapshot FILES to the data:
    * each publish otherwise inherits the shuffle partition count, so a
    * KB-scale aggregate view lands as 8 near-empty files per batch and
    * the commit protocol runs 8× per write. Pick ⌈snapshot bytes /
    * 128 MB⌉ (1 at test SFs); 0 keeps the plan's own partitioning.
    */
  def viewMaintenance(stream: DataFrame, initialState: DataFrame,
                      stateDir: String, viewDir: String, isDelete: Column,
                      checkpointDir: String, keyCol: String = "id",
                      versionCol: String = "update_at",
                      seqCol: String = "event_id",
                      groupCol: String = "account",
                      amountCol: String = "amount",
                      snapshotPartitions: Int = 0): Unit = {
    def sized(df: DataFrame): DataFrame =
      if (snapshotPartitions > 0) df.coalesce(snapshotPartitions) else df
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val prevState =
          if (batchId == 0) initialState
          else s.read.parquet(s"$stateDir/v=${batchId - 1}")
        val prevAgg =
          if (batchId == 0) Materialize.groupAgg(prevState, groupCol, amountCol)
          else s.read.parquet(s"$viewDir/v=${batchId - 1}")
        val newAgg = Materialize.maintainAgg(prevAgg, prevState,
          batch, isDelete, keyCol, versionCol, seqCol, groupCol, amountCol)
        val newState = Merge.upsertWithTombstones(prevState, batch, isDelete,
          keyCol, versionCol, Seq(col(seqCol).desc))
        graft.ingest.VersionedDir.publish(sized(newState), stateDir, batchId)
        graft.ingest.VersionedDir.publish(sized(newAgg), viewDir, batchId)
      }
      .start().awaitTermination()
  }

  /** Retention for the versioned sketch table: delete every snapshot
    * dir older than the `keep` most recent — the [[graft.ingest.Ingest.pruneLanding]]
    * analog. Never deletes the pointed-at snapshot; returns the number
    * of dirs removed. Run on a cleanup cadence, not per epoch.
    */
  def pruneSketchVersions(spark: SparkSession, sketchDir: String,
                          keep: Int = 2): Int =
    graft.ingest.VersionedDir.prune(spark, sketchDir, keep)

  /** Read the current sketch snapshot (the dir the `_LATEST` pointer
    * names), or None before the first commit.
    */
  def currentSketches(spark: SparkSession, sketchDir: String): Option[DataFrame] =
    graft.ingest.VersionedDir.current(spark, sketchDir)

  /** Stream-stream inner join scoped to a shared event-time window:
    * rows from the two streams pair up when their keys match AND their
    * event times fall in the same tumbling `windowDur` window — the
    * standard "correlate two event streams" primitive (orders↔payments,
    * credits↔debits, request↔response).
    *
    * Scale/state design: the window-equality condition is what makes
    * this runnable forever — Spark's state store keeps only rows whose
    * window can still find partners (evicted once the watermark passes
    * the window end + `watermark` delay), so state is O(rows within the
    * watermark horizon), not O(stream history). Without an event-time
    * constraint a stream-stream join buffers both streams unboundedly.
    * Inner-join matches emit immediately (the watermark gates state
    * cleanup, not emission), so there is no latency penalty. Each
    * micro-batch joins by (key, window) hash partitioning — the same
    * shuffle profile as the batch equi-join.
    *
    * Each side declares its own event-time column (they must be named
    * differently so the joined row can carry both).
    */
  def windowedStreamJoin(left: DataFrame, leftTime: String,
                         right: DataFrame, rightTime: String,
                         windowDur: String, watermark: String,
                         keys: Seq[String]): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
      .withColumn("__win", window(col(leftTime), windowDur))
    val r = right.withWatermark(rightTime, watermark)
      .withColumn("__win", window(col(rightTime), windowDur))
    l.join(r, keys :+ "__win").drop("__win")
  }

  /** Windowed freshness metrics over the event stream: 1-minute tumbling
    * counts with the reference's 2-minute late-data tolerance (T2+T3).
    */
  def minuteCounts(events: DataFrame): DataFrame =
    events
      .withColumn("update_ts",
        to_timestamp(col("update_at"), Schemas.TsPattern))
      .withWatermark("update_ts", "2 minutes")
      .groupBy(window(col("update_ts"), "1 minute"))
      .agg(count(lit(1)).as("n_events"))
}
