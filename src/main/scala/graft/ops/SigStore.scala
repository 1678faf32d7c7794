package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import graft.ingest.VersionedDir

/** Continuously-maintained MinHash signature store: incremental
  * near-dup dedup of each new batch against persisted signatures, run
  * as an EPOCH LOOP — the operation a continuously
  * refreshed training corpus runs. Each epoch's batch dedups against
  * the persisted signature snapshot AND against itself, survivors'
  * signatures append to the store, and the store advances one
  * crash-safe version (the hl2 commit pattern: `v=<epoch>` snapshot
  * dir + atomic `_LATEST` pointer flip via
  * [[graft.ingest.VersionedDir.publish]]).
  *
  * Dedup policy per epoch, deterministic and batch-explicit:
  *
  *  - CROSS: a batch doc with any signature-agreement hit (est >=
  *    threshold) against the CURRENT store is dropped. Self-id hits
  *    are excluded, which is what makes
  *    a replayed epoch see its own prior append harmlessly.
  *  - INTRA: for batch-internal pairs (d1 < d2, est >= threshold) the
  *    LATER id drops — the same one-pass greedy policy as
  *    [[Dedup.dropNearDuplicates]], applied regardless of d1's own
  *    fate (greedy, not transitive closure; documented, and exactly
  *    reproducible by the oracle).
  *  - Only SURVIVOR signatures enter the store: a dropped doc never
  *    blocks future docs (its near-dup representative already in the
  *    store does).
  *
  * Crash safety / replay idempotency (the commit design): the output
  * and the store advance are both keyed by epoch id with
  * mode-overwrite writes, and the dedup decision is a deterministic
  * function of (batch, pointed-at store). Replaying an epoch after
  * ANY crash point recomputes the identical survivor set — if the
  * pointer already flipped, the replay sees its own survivors in the
  * store, but self-id hits are excluded and two same-epoch survivors
  * are never mutual near-dups (an est >= t pair would have dropped
  * one), so nothing changes — then rewrites the same `v=` dir and
  * `epoch=` output in place.
  *
  * Scale: the store holds ~64 longs per surviving doc (3 orders
  * smaller than text); per epoch the batch is signed ONCE (narrow
  * codegen pass), candidates band-join ids only, and the store
  * rewrite is O(store) parquet — at 100 TB the store is the ~100 GB
  * artifact an incremental crawl refresh actually keeps hot, with
  * retention handled by [[graft.ingest.VersionedDir.prune]].
  */
object SigStore {

  /** Run one dedup epoch: returns the surviving rows of `batch` (all
    * original columns) and advances the store at `storeDir` to
    * `v=<epochId>`. See the object doc for the policy.
    *
    * `storePartitions` right-sizes the store-snapshot files (the store
    * rewrite otherwise inherits the shuffle partition count — at test
    * SFs that is 8 near-empty files plus 8 commit-protocol rounds per
    * epoch). Pick ⌈store bytes / 128 MB⌉; 0 keeps the plan's own
    * partitioning.
    */
  def ingestEpoch(batch: DataFrame, storeDir: String, epochId: Long,
                  estThreshold: Double = 0.5,
                  numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
                  textCol: String = "text", idCol: String = "doc_id",
                  hashFn: Column => Column = Dedup.xxShingleHash,
                  bandHashFn: Column => Column = c => xxhash64(c),
                  storePartitions: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    // sign the batch ONCE; three consumers (cross join, intra join,
    // survivor append) read the persisted form
    val bsig = Dedup.minhashSignatures(batch, numHashes, shingleK,
        textCol, idCol, hashFn = hashFn)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val store = VersionedDir.current(spark, storeDir)
    // CROSS and INTRA fused into ONE band join (round-12 profile: the
    // two signature-agreement joins were ~40% of the epoch — each banded
    // bsig separately and each paid its own candidate-dedup shuffle).
    // The reference side is store ∪ batch with a store flag carried
    // THROUGH the banding; the join condition encodes both policies at
    // once: a store hit drops the batch doc for any other id (replay's
    // self-id excluded), a batch hit drops only the LATER id (r.d <
    // b.d — the same greedy keep-first as before, regardless of the
    // earlier doc's own fate). A replayed epoch's ids appear on both
    // reference halves with IDENTICAL sigs (deterministic signing), so
    // the (d2, st) disambiguation keeps the verify join exact.
    val refSig = store match {
      case Some(st) => st.select(col("d"), col("sig"), lit(true).as("__st"))
        .unionByName(bsig.select(col("d"), col("sig"), lit(false).as("__st")))
      case None => bsig.select(col("d"), col("sig"), lit(false).as("__st"))
    }
    val rpb = numHashes / bands
    def banded(sigs: DataFrame, extraCols: Column*): DataFrame =
      sigs.select((col("d") +: extraCols :+ posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => bandHashFn(concat_ws(",", slice(col("sig"), b * rpb + 1, lit(rpb)))))))
        .asInstanceOf[Seq[Column]]: _*)
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val cand = banded(bsig).as("b")
      .join(banded(refSig, col("__st")).as("r"),
        col("b.band") === col("r.band") && col("b.bh") === col("r.bh") &&
          when(col("r.__st"), col("r.d") =!= col("b.d"))
            .otherwise(col("r.d") < col("b.d")))
      .select(col("b.d").as("d1"), col("r.d").as("d2"), col("r.__st").as("st"))
      .dropDuplicates("d1", "d2", "st")
    val dropIds = cand
      .join(bsig.select(col("d").as("d1"), col("sig").as("s1")), "d1")
      .join(refSig.select(col("d").as("d2"), col("__st").as("st"),
        col("sig").as("s2")), Seq("d2", "st"))
      .withColumn("est",
        aggregate(zip_with(col("s1"), col("s2"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
      .filter(col("est") >= estThreshold)
      .select(col("d1").as("__drop")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val survivors = batch.join(dropIds,
      batch(idCol) === dropIds("__drop"), "left_anti")
    val survSigs = bsig.join(
      survivors.select(col(idCol).as("d")), Seq("d"), "left_semi")
    // dropDuplicates(d) absorbs the replayed-epoch case where the
    // pointed-at store already contains this epoch's survivors
    val newStore0 = store
      .map(_.unionByName(survSigs).dropDuplicates("d"))
      .getOrElse(survSigs)
    val newStore =
      if (storePartitions > 0) newStore0.coalesce(storePartitions) else newStore0
    VersionedDir.publish(newStore, storeDir, epochId)
    survivors
  }

  /** Structured Streaming maintenance: each micro-batch runs
    * [[ingestEpoch]] (batch id = epoch id) and writes its survivors to
    * `outDir/epoch=<id>` — both writes idempotent under replay, per
    * the object doc. AvailableNow drains everything landed, in
    * `maxFilesPerTrigger`-bounded epochs, then stops — the testable
    * catch-up form (the T1-style processing-time trigger is a
    * one-line swap).
    */
  def maintain(stream: DataFrame, storeDir: String, outDir: String,
               checkpointDir: String,
               estThreshold: Double = 0.5,
               numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
               textCol: String = "text", idCol: String = "doc_id",
               hashFn: Column => Column = Dedup.xxShingleHash,
               bandHashFn: Column => Column = c => xxhash64(c),
               storePartitions: Int = 0): Unit = {
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val surv = ingestEpoch(batch, storeDir, id, estThreshold,
            numHashes, bands, shingleK, textCol, idCol, hashFn, bandHashFn,
            storePartitions)
          surv.write.mode("overwrite").parquet(s"$outDir/epoch=$id")
        }
      }
      .start().awaitTermination()
  }
}
