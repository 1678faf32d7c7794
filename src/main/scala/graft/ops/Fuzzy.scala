package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string matching: all pairs within Levenshtein distance 1 via
  * deletion-neighborhood blocking (the FastSS/SymSpell trick).
  *
  * Completeness: for strings a, b with lev(a,b) ≤ 1, the sets
  * {a} ∪ deletes1(a) and {b} ∪ deletes1(b) intersect — equality
  * trivially, substitution via deleting the substituted position from
  * both, insert/delete via deleting the inserted char from the longer
  * side. So an equi-join on deletion variants finds EVERY qualifying
  * pair (no LSH-style recall loss), and `levenshtein` verification
  * removes the false positives the blocking admits.
  *
  * Scale design: each string fans out to length+1 variant keys — a
  * narrow, linear blow-up — and candidates come from one equi-join on
  * the variant's md5 carrying ids only. Verification runs once per
  * DISTINCT candidate pair. The naive alternative is an O(n²) cross
  * join with a levenshtein in the condition — unrunnable at corpus
  * vocabulary sizes; this is the inverted-index shape that is.
  */
object Fuzzy {

  /** The 1-deletion variant index (s, vk) — raw variant strings as the
    * join key: for entity-key vocabularies the variant is SHORTER than
    * any fixed-width digest, so hashing would widen the shuffle, not
    * narrow it.
    */
  private def deletionIndex(strs: DataFrame): DataFrame = {
    val s = col("s")
    // variant i=0 is the string itself; variant i in 1..len deletes
    // char i. substr is 1-based; both engines agree on that.
    val variants = transform(sequence(lit(0), length(s)), i =>
      when(i === lit(0), s).otherwise(
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))
    strs.select(s, explode(array_distinct(variants)).as("vk"))
  }

  /** Pre-dedup deletion-blocked pairs (one row per shared variant). */
  private def deletionCandidatesRaw(strs: DataFrame): DataFrame = {
    val keyed = deletionIndex(strs)
    keyed.as("a").join(keyed.as("b"),
        col("a.vk") === col("b.vk") && col("a.s") < col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
  }

  /** Candidate pairs from the 1-deletion neighborhood (complete for
    * lev ≤ 1). `strs` must be a single distinct column `s`.
    */
  def deletionCandidates(strs: DataFrame): DataFrame =
    deletionCandidatesRaw(strs).distinct()

  /** Candidate pairs sharing at least one character n-gram — the
    * SECOND blocking family, catching the edit shapes a 1-deletion
    * block structurally cannot (transpositions and double edits are
    * lev = 2). By the count filter, any pair with lev ≤ d and
    * min-length > d·n + n − 1 shares an n-gram, so the blocker is
    * complete for lev ≤ 2 on strings longer than 8 chars at n = 3
    * (shorter strings degrade gracefully: their single truncated gram
    * still blocks exact-prefix relatives).
    *
    * Scale note: the gram index joins on md5(gram) carrying strings
    * only, same shape as the deletion index; on corpora where common
    * grams explode the join (shared prefixes, boilerplate), prune the
    * index to each string's RAREST grams by document frequency — the
    * PPJoin prefix discipline (`Dedup.prefixJaccardPairs`) applied to
    * the blocking index; completeness then holds per that prefix
    * lemma's overlap bound instead of the count filter.
    */
  /** The char-n-gram index (s, g) — one row per distinct gram of each
    * string, raw gram as the join key (an n-char key is narrower than
    * any digest).
    */
  private def gramIndex(strs: DataFrame, n: Int): DataFrame = {
    val s = col("s")
    val grams = transform(sequence(lit(1), greatest(length(s) - (n - 1), lit(1))),
      i => s.substr(i, lit(n)))
    strs.select(s, explode(array_distinct(grams)).as("g"))
  }

  /** Pre-dedup gram-blocked pairs from an index (one row per shared
    * gram).
    */
  private def gramPairsRaw(keyed: DataFrame): DataFrame =
    keyed.as("a").join(keyed.as("b"),
        col("a.g") === col("b.g") && col("a.s") < col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2"))

  def ngramCandidates(strs: DataFrame, n: Int = 3,
                      dfCap: Long = Long.MaxValue): DataFrame = {
    val keyed0 = gramIndex(strs, n)
    // df-cap pruning (the stop-gram discipline): grams shared by more
    // than dfCap strings are vocabulary chrome ("use"/"ser" in user-N
    // ids) that would block everything with everything — drop them from
    // the INDEX and let er2's pair-completeness metric certify that the
    // surviving rare grams still cover the true pairs.
    val keyed =
      if (dfCap == Long.MaxValue) keyed0
      else {
        val df = keyed0.groupBy("g").agg(count(lit(1)).as("__df"))
        keyed0.join(df.filter(col("__df") <= dfCap).select("g"), "g")
      }
    gramPairsRaw(keyed).distinct()
  }

  /** All-pairs self-join: every unordered pair (s1 < s2) of distinct
    * values of `strCol` with lev ≤ 1. Output: (s1, s2, dist).
    */
  def selfJoinLev1(df: DataFrame, strCol: String): DataFrame =
    deletionCandidates(df.select(col(strCol).as("s")).distinct())
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= 1)

  private def segLen(l: Column, k: Int, p: Int): Column = {
    val m = floor(l.cast("double") / p).cast("int")
    m + when(lit(k) >= lit(p) - pmod(l, lit(p)), 1).otherwise(0)
  }

  private def segStart(l: Column, k: Int, p: Int): Column = {
    val m = floor(l.cast("double") / p).cast("int")
    lit(1) + lit(k) * m + greatest(lit(0), lit(k) - (lit(p) - pmod(l, lit(p))))
  }

  /** Candidate pairs for lev ≤ d via PassJoin-style SEGMENT blocking
    * (Li, Deng, Feng, Wang, "PassJoin: a partition-based method for
    * similarity joins", VLDB'11), with an extra pigeonhole twist that
    * makes it robust to shared boilerplate affixes:
    *
    *  - Every string splits into P = 2d+1 even segments (longer tails
    *    last) and INDEXES all of them under (length, segId, content).
    *  - In an optimal ≤ d edit script, each operation breaks at most
    *    ONE segment of the partner's split and merely SHIFTS the rest
    *    by ≤ d positions — so at least P − d = d+1 segments are
    *    preserved verbatim within a ±d start window. By pigeonhole,
    *    ANY (d+1)-subset of segment ids — even a different subset per
    *    probing string — still contains a preserved segment. So each
    *    string probes only its d+1 RAREST segments (by global
    *    (length, segId, content) document frequency — the AllPairs
    *    rare-first discipline applied to segment blocking), emitting
    *    its substrings at the segment positions of every candidate
    *    partner length (ℓ ∈ [L−d, L+d]) shifted by ≤ d.
    *
    * Rarity-ranked probing is what keeps this linear on corpora whose
    * strings share CONSTANT AFFIXES (URLs, path-like keys): the
    * boilerplate segments are indexed (they must be, for completeness)
    * but probed by almost nobody — every string's rare segments are
    * its discriminative ones — so the quadratic collision a shared
    * gram/segment causes in a symmetric blocker never enters the
    * join. Cost: ≤ (d+1)(2d+1)² probe keys per string — 45 at d = 2 —
    * each a fixed-width row, with the join output bounded by
    * Σ df(probed segment). `probeIds` pins a fixed id subset instead
    * (skipping the df pass) when the discriminative region is known a
    * priori.
    *
    * REGIME honesty (measured): the advantage needs the discriminative
    * content to SPAN ≥ d+1 of the 2d+1 segments. Short keys whose
    * entropy sits in a narrow suffix (zero-padded ids, `user-NNN`)
    * leave ≤ d discriminative segments, so at least one probed segment
    * is boilerplate and candidate volume approaches the symmetric
    * blocker's — with more plan stages on top. For those corpora, if
    * the pair density is high the simple gram blocker is already
    * output-bound (er1's case: 21% of all pairs qualify); if it is
    * low, normalize the key (strip the literal affix) before joining.
    */
  def segmentCandidates(strs: DataFrame, d: Int = 2,
                        probeIds: Option[Seq[Int]] = None): DataFrame = {
    require(d >= 1, "segment blocking needs d >= 1")
    val p = 2 * d + 1
    probeIds.foreach(ids =>
      require(ids.size >= d + 1, s"need at least ${d + 1} probed segment ids"))
    val s = col("s")
    val bigL = length(s)
    val idx = strs.select(s,
        explode(array((0 until p).map { k =>
          struct(bigL.as("l"), lit(k).as("k"),
            s.substr(segStart(bigL, k, p), segLen(bigL, k, p)).as("c"))
        }: _*)).as("seg"))
      .select(s.as("bs"), col("seg.l"), col("seg.k"), col("seg.c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // which ids each string probes: a fixed subset, or its d+1 rarest
    // segments (df over the index keys; ties to the lower id)
    val chosen = probeIds match {
      case Some(ids) =>
        strs.select(s.as("as"), explode(array(ids.map(lit(_)): _*)).as("k"))
      case None =>
        val dfc = idx.groupBy("l", "k", "c").agg(count(lit(1)).as("df"))
        idx.join(dfc, Seq("l", "k", "c"))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("bs"))
              .orderBy(col("df").asc, col("k").asc)))
          .filter(col("rk") <= d + 1)
          .select(col("bs").as("as"), col("k"))
    }
    val probeStructs = for {
      k <- 0 until p
      dl <- -d to d
      off <- -d to d
    } yield {
      val ell = bigL + dl
      val sl = segLen(ell, k, p)
      val pos = segStart(ell, k, p) + off
      // a zero-length segment is matchable anywhere — emit it once
      // (pos pinned to 1) so array_distinct collapses the window
      val posN = when(sl === 0, lit(1)).otherwise(pos)
      when(ell >= 1 && posN >= 1 && posN + sl - lit(1) <= bigL,
        struct(ell.as("l"), lit(k).as("k"), s.substr(posN, sl).as("c")))
    }
    val probe = strs.select(s,
        explode(array_distinct(filter(array(probeStructs: _*), x => x.isNotNull))).as("seg"))
      .select(s.as("as"), col("seg.l"), col("seg.k"), col("seg.c"))
      .join(chosen, Seq("as", "k"), "left_semi")
    probe.join(idx, Seq("l", "k", "c"))
      .filter(col("as") =!= col("bs"))
      .select(least(col("as"), col("bs")).as("s1"),
        greatest(col("as"), col("bs")).as("s2"))
      .distinct()
  }

  /** All-pairs self-join: every unordered pair (s1 < s2) of distinct
    * values of `strCol` with lev ≤ `maxDist`, via [[segmentCandidates]]
    * — COMPLETE for any `maxDist` (unlike the gram blocker's
    * length-conditioned completeness), with the blocking cost
    * concentrated on the probed discriminative segments. Output:
    * (s1, s2, dist).
    */
  def selfJoinLev(df: DataFrame, strCol: String, maxDist: Int = 2,
                  probeIds: Option[Seq[Int]] = None): DataFrame =
    segmentCandidates(df.select(col(strCol).as("s")).distinct(), maxDist, probeIds)
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)

  /** Blocking-quality metrics — the record-linkage evaluation pair
    * (Christen 2012): REDUCTION RATIO (how much of the n² pair space
    * the blocker prunes) and PAIR COMPLETENESS (what fraction of true
    * lev ≤ maxDist pairs survive blocking). The multi-blocker union is
    * complete for lev ≤ 1 by construction, so completeness < 1 can only
    * come from lev-2 pairs outside the gram blocker's length bound —
    * exactly what this metric makes visible.
    *
    * The ONLY quadratic piece is the truth join, and it is bounded by
    * construction: above `maxVocab` distinct strings the truth is
    * estimated on a DETERMINISTIC STRATIFIED SAMPLE — per length
    * stratum (true pairs need |len(a)−len(b)| ≤ maxDist, so length is
    * the variance-relevant stratum), each stratum keeps its
    * ceil(count · maxVocab/n) smallest strings by md5 order. The theta
    * join then runs sample×sample (≤ maxVocab² cells, never n²), the
    * completeness ratio n_caught/n_truth is the standard pair-sampled
    * estimator (pairs drawn with probability ≈ (maxVocab/n)², σ ≤
    * 1/(2·√n_truth_sampled)), and the reduction ratio is UNAFFECTED —
    * candidates and the n²/2 denominator always come from the full
    * vocabulary; the blockers are the linear, scalable part. In the
    * sampled regime `n_truth`/`n_caught` carry the within-sample
    * counts (the ratio columns are the estimates); below the guard the
    * exact path is byte-identical to before.
    *
    * The OTHER quadratic hazard is the uncapped gram blocker itself: a
    * gram shared by D strings blocks D²/2 pairs, so on boilerplate
    * vocabularies ("user-NNN": "use"/"ser" have D = n) the full-union
    * candidate COUNT is Θ(n²) — and a join would materialize it just
    * to count it. This implementation never does: the top `denseBits`
    * grams by document frequency (among those over `dfCap`) form a
    * MASK TIER — each string gets a ≤ 64-bit membership mask, strings
    * group by mask (boilerplate vocabularies collapse to few distinct
    * masks), and "pairs sharing a dense gram" is the closed-form
    * Σ c_i·c_j over mask pairs with intersecting bits — computed on
    * the ≤ `maskCap` mask GROUPS, never on string pairs. Only the
    * remaining grams (df ≤ dfCap plus any dense overflow past 64) go
    * through the equi-join, whose output is df-bounded. The df-capped
    * variant is untouched by the mask tier (every masked gram has
    * df > dfCap by construction). If the vocabulary yields more than
    * `maskCap` distinct masks — no boilerplate structure to exploit —
    * the mask tier is abandoned and all grams take the join path (the
    * pre-optimization behavior).
    */
  def blockingQuality(df: DataFrame, strCol: String,
                      maxDist: Int = 2, n: Int = 3,
                      dfCap: Long = 30L,
                      maxVocab: Long = 10000L,
                      maskCap: Int = 4096): DataFrame = {
    require(maxVocab > 0, "maxVocab must be positive")
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = df.sparkSession
    val strs = df.select(col(strCol).as("s")).distinct().persist(mem)
    val nStr = strs.count()
    val truthBase =
      if (nStr <= maxVocab) strs
      else {
        val frac = maxVocab.toDouble / nStr
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(length(col("s"))).orderBy(md5(col("s")), col("s"))
        strs
          .withColumn("__rk", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(length(col("s")))))
          .filter(col("__rk") <= ceil(col("__n") * lit(frac)))
          .select("s")
      }
    val truth = truthBase.as("a").join(truthBase.as("b"), col("a.s") < col("b.s"))
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
      .filter(levenshtein(col("s1"), col("s2")) <= maxDist)

    // ---- gram tiers ------------------------------------------------
    val idx = gramIndex(strs, n).persist(mem)
    val dfc = idx.groupBy("g").agg(count(lit(1)).as("gdf"))
    // deterministic top-64 dense grams (bounded collect: 64 rows)
    val denseTop = dfc.filter(col("gdf") > dfCap)
      .orderBy(col("gdf").desc, col("g")).limit(64)
      .select("g").collect().map(_.getString(0))
    val bitOf = denseTop.zipWithIndex.toMap
    // per-string mask over the dense tier; strings with no dense gram
    // keep mask 0 (they can only pair through the join tier)
    val denseDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        bitOf.toSeq.map { case (g, b) => org.apache.spark.sql.Row(g, 1L << b) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("bitv",
          org.apache.spark.sql.types.LongType))))
    val masks = strs
      .join(idx.join(broadcast(denseDf), "g")
          .groupBy("s").agg(expr("bit_or(bitv)").as("mask")),
        Seq("s"), "left")
      .na.fill(0L, Seq("mask"))
      .persist(mem)
    // mask groups: few on boilerplate vocabularies; guarded collect
    val maskCounts = masks.filter(col("mask") =!= 0L)
      .groupBy("mask").agg(count(lit(1)).as("c"))
      .limit(maskCap + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val maskTierOn = denseTop.nonEmpty && maskCounts.length <= maskCap
    // closed-form count of unordered string pairs sharing a dense gram
    val nMaskPairs: Long = if (!maskTierOn) 0L else {
      var acc = 0L
      var i = 0
      while (i < maskCounts.length) {
        val (mi, ci) = maskCounts(i)
        acc += ci * (ci - 1) / 2 // within one mask group: always share
        var j = i + 1
        while (j < maskCounts.length) {
          val (mj, cj) = maskCounts(j)
          if ((mi & mj) != 0L) acc += ci * cj
          j += 1
        }
        i += 1
      }
      acc
    }
    // join tier: every gram outside the mask tier (rare grams always;
    // plus ALL grams when the mask tier is off). Carry gdf so the
    // df-capped variant is a filter, not a second join.
    val joinIdx =
      if (maskTierOn)
        idx.join(broadcast(denseDf.select("g")), Seq("g"), "left_anti")
          .join(dfc, "g")
      else idx.join(dfc, "g")
    // min gdf per joined pair drives the cap filter
    val jpMin = joinIdx.as("a").join(joinIdx.as("b"),
        col("a.g") === col("b.g") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(min(col("a.gdf")).as("min_df"))
      .persist(mem)
    val delC = deletionCandidates(strs).persist(mem)
    val baseFull = delC.unionByName(jpMin.select("s1", "s2"))
      .dropDuplicates("s1", "s2").persist(mem)
    val baseCap = delC.unionByName(
        jpMin.filter(col("min_df") <= dfCap).select("s1", "s2"))
      .dropDuplicates("s1", "s2").persist(mem)
    // annotate a pair set with "shares a dense (masked) gram"; with the
    // mask tier off every gram took the join path, so nothing shares
    def withShare(p: DataFrame): DataFrame =
      if (!maskTierOn) p.withColumn("__share", lit(false))
      else p
        .join(masks.select(col("s").as("s1"), col("mask").as("m1")), "s1")
        .join(masks.select(col("s").as("s2"), col("mask").as("m2")), "s2")
        .withColumn("__share", (col("m1").bitwiseAND(col("m2"))) =!= 0L)

    def metricRow(name: String, nCand: Long, nTruth: Long,
                  nCaught: Long): DataFrame =
      spark.range(1).select(
        lit(name).as("blocker"),
        lit(nStr).as("n_strings"),
        lit(nStr * (nStr - 1) / 2).as("n_all_pairs"),
        lit(nCand).as("n_candidates"),
        lit(nTruth).as("n_truth"),
        lit(nCaught).as("n_caught"))
        .withColumn("pair_completeness",
          round(col("n_caught").cast("double") / col("n_truth").cast("double"), 6))
        .withColumn("reduction_ratio",
          round(lit(1.0) - col("n_candidates").cast("double")
            / col("n_all_pairs").cast("double"), 6))

    // ONE action for every remaining count — the metric is latency-
    // bound (many tiny jobs), so the four scalar aggregates union into
    // a single collected frame and Spark runs their subtrees in one job:
    //  - candfull_rest: |baseFull \ maskPairs| (union_full candidates
    //    beyond the closed-form mask-pair count)
    //  - the truth row: n_truth plus caught-by-full (shares a dense
    //    gram OR in baseFull) and caught-by-cap (in baseCap) marked via
    //    left-join hit flags
    //  - candcap: |baseCap|
    val truthAnnot = withShare(truth)
      .join(baseFull.withColumn("__hf", lit(1)), Seq("s1", "s2"), "left")
      .join(baseCap.withColumn("__hc", lit(1)), Seq("s1", "s2"), "left")
    val stats = withShare(baseFull).filter(!col("__share"))
      .agg(count(lit(1)).as("a"), lit(0L).as("b"), lit(0L).as("c"))
      .withColumn("k", lit("candfull_rest"))
      .unionByName(truthAnnot.agg(
        count(lit(1)).as("a"),
        count(when(col("__share") || col("__hf").isNotNull, 1)).as("b"),
        count(when(col("__hc").isNotNull, 1)).as("c"))
        .withColumn("k", lit("truth")))
      .unionByName(baseCap
        .agg(count(lit(1)).as("a"), lit(0L).as("b"), lit(0L).as("c"))
        .withColumn("k", lit("candcap")))
    val m = stats.collect()
      .map(r => r.getString(3) -> (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toMap
    val (nTruth, nCaughtFull, nCaughtCap) = m("truth")
    val nCandFull = nMaskPairs + m("candfull_rest")._1
    val nCandCap = m("candcap")._1
    val out = metricRow("union_full", nCandFull, nTruth, nCaughtFull)
      .unionByName(metricRow("union_dfcap", nCandCap, nTruth, nCaughtCap))
    Seq(idx, masks, jpMin, delC, baseFull, baseCap, strs)
      .foreach(_.unpersist())
    out
  }

  /** Multi-blocker fuzzy self-join: candidates are the UNION of the
    * 1-deletion neighborhood and the char-n-gram block — so the
    * match-verify stage is not tied to any one blocker's recall shape —
    * verified at lev ≤ `maxDist`. Complete for lev ≤ 1 always (the
    * deletion blocker), and for lev ≤ 2 on strings longer than
    * 2n + n − 1 chars (the gram blocker's count filter); the edge set
    * is exactly "lev ≤ 1, or lev = 2 sharing an n-gram", which an
    * external oracle can restate declaratively.
    */
  def selfJoinFuzzy(df: DataFrame, strCol: String,
                    maxDist: Int = 2, n: Int = 3): DataFrame = {
    val strs = df.select(col(strCol).as("s")).distinct()
    // dedup BEFORE verifying: levenshtein is O(len²) per row, so it
    // runs once per DISTINCT candidate pair, not once per shared key
    // occurrence (measured 2× on the boilerplate vocab, where dense
    // grams emit each pair several times)
    deletionCandidates(strs).unionByName(ngramCandidates(strs, n))
      .dropDuplicates("s1", "s2")
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95): sort
    * records by the (normalized) key, pair each record with its next
    * `window−1` neighbors in sort order, verify with levenshtein —
    * the third blocker family beside the deletion-index and n-gram
    * blockers, and the one that catches prefix-preserving typos the
    * gram blockers over-generate on.
    *
    * Scale: ranking is [[Stats.globalRank]] (range-partitioned sort +
    * zipWithIndex — no single-reducer window); the neighbor pairing is
    * an EQUI-join on an exploded `idx+1..idx+window−1` partner index
    * (never a nested-loop range join), so candidates are exactly
    * `n·(window−1)` rows carrying ids and the two strings to verify.
    */
  def sortedNeighborhoodPairs(df: DataFrame, strCol: String, idCol: String,
                              window: Int = 4, maxDist: Int = 2): DataFrame = {
    require(window >= 2, "window must pair each record with at least one neighbor")
    val ranked = Stats.globalRank(
        df.select(col(strCol).as("s"), col(idCol).as("id")),
        col("s").asc, col("id").asc)
      .persist()
    val partners = ranked.select(col("s").as("s1"), col("id").as("id1"),
      explode(sequence(col("idx") + 1, col("idx") + (window - 1))).as("pidx"))
    partners.join(
        ranked.select(col("s").as("s2"), col("id").as("id2"), col("idx").as("pidx")),
        Seq("pidx"))
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("s1"), col("s2"), col("dist"))
  }

  /** Jaro–Winkler similarity column: the native codegen expression
    * when the session has graft's extensions, else a Scala-UDF
    * fallback over the identical static kernel (same values, slower —
    * the guarded-fallback pattern of the other native functions).
    */
  def jaroWinklerCol(a: Column, b: Column): Column =
    if (graft.functions.GraftExtensions.available("jaro_winkler"))
      graft.functions.JaroWinkler.jaro_winkler(a, b)
    else org.apache.spark.sql.functions.udf((x: String, y: String) =>
      graft.functions.JaroWinkler.similarity(
        x.getBytes("UTF-8"), y.getBytes("UTF-8"))).apply(a, b)

  /** Fellegi–Sunter probabilistic record-linkage scoring (JASA 1969 —
    * the canonical model behind every production linker): a candidate
    * pair's match weight is `Σ_f agree_f ? ln(m_f/u_f) :
    * ln((1−m_f)/(1−u_f))` over the comparison fields. `m_f` (agreement
    * probability among true matches) is supplied; `u_f` (chance
    * agreement among NON-matches) is estimated from the data as the
    * exact random-pair agreement rate `Σ_v c_v(c_v−1) / N(N−1)` of
    * each field's value distribution.
    *
    * Determinism: every `u_f` is a ratio of exact integer counts; the
    * per-pair weight is a FIXED-ORDER sum of `|fields|` log terms
    * evaluated on identical doubles in both engines — no cross-row
    * float summation anywhere.
    *
    * Scale: u estimation is one combinable value-count shuffle per
    * field; scoring joins the (small) candidate set against the
    * record table twice by id — the candidate generator (blocking)
    * bounds everything.
    */
  def fellegiSunterScores(records: DataFrame, idCol: String, fields: Seq[String],
                          candidates: DataFrame, m: Double = 0.9): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val n = records.count()
    require(n >= 2, "need at least two records")
    // exact chance-agreement rate per field (u): exact integer counts,
    // then the SAME double division the oracle performs —
    // num / (n · (n−1)) with every operand cast to double first
    val us: Map[String, Double] = fields.map { f =>
      val num = records.groupBy(col(f)).agg(count(lit(1)).cast("decimal(38,0)").as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
      f -> num.doubleValue / (n.toDouble * (n - 1).toDouble)
    }.toMap
    val a = records.select(col(idCol).as("id1") +:
      fields.map(f => col(f).as(s"${f}_1")): _*)
    val b = records.select(col(idCol).as("id2") +:
      fields.map(f => col(f).as(s"${f}_2")): _*)
    val joined = candidates.select("id1", "id2").join(a, "id1").join(b, "id2")
    val agreeCols = fields.map(f =>
      (col(s"${f}_1") === col(s"${f}_2")).as(s"agree_$f"))
    val withAgree = joined.select(col("id1") +: col("id2") +: agreeCols: _*)
    // fixed-order per-field log terms: m and u are plan-time doubles
    val weight = fields.map { f =>
      val u = us(f)
      when(col(s"agree_$f"), lit(math.log(m / u)))
        .otherwise(lit(math.log((1.0 - m) / (1.0 - u))))
    }.reduce(_ + _)
    withAgree.withColumn("weight", round(weight, 6))
      .withColumn("is_match", weight > 0)
  }

  /** Soundex phonetic-blocking planner over the corpus vocabulary —
    * the third blocking family beside the lev-1 deletion neighborhood
    * and char-n-gram blocks: American Soundex (first letter + 3 digits,
    * Russell/Odell 1918, the H/W-merge variant Spark's built-in
    * `soundex` implements) groups spelling variants that SOUND alike —
    * the edit shapes string blockers miss (smith/smyth, jon/john).
    * Like dd19's LSH planner this op does NOT generate pairs: it
    * reports per-block term counts, document mass, and the candidate
    * C(n,2) a phonetic match stage would pay, so the skew (one giant
    * block = quadratic blow-up) is visible before any join runs.
    *
    * The vocabulary is restricted to pure ASCII-letter tokens (the
    * phonetic code is undefined off A–Z; Spark's builtin returns
    * non-letter-led strings unchanged) of ≥ `minLen` chars.
    *
    * Determinism: Spark's codegen `soundex` — its exact semantics
    * (H/W merge, code-0 separators for embedded non-letters, as-is
    * passthrough for non-letter-led input) were fuzz-verified
    * bit-identical to the oracle's translate/collapse recipe over
    * 5 000 random strings. Counts are exact integers; top-K orders by
    * (n_terms desc, code asc).
    *
    * Scale: one corpus-sized distinct (doc, term) explode — map-side
    * combinable — then a vocabulary-sized rollup onto codes (26·7³
    * possible blocks); nothing quadratic anywhere.
    */
  def soundexBlocks(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", minLen: Int = 3,
                    topK: Int = 40): DataFrame = {
    val dt = docs.select(col(idCol).as("id"),
      explode(expr(
        s"""array_distinct(filter(split(lower($textCol), ' '),
           |  x -> length(x) >= $minLen AND x RLIKE '^[a-z]+$$'))"""
          .stripMargin)).as("term"))
    dt.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .groupBy(soundex(col("term")).as("code"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum("df").cast("long").as("total_df"),
        min("term").as("first_term"), max("term").as("last_term"))
      .withColumn("n_candidate_pairs",
        expr("(n_terms * (n_terms - 1)) div 2"))
      .orderBy(col("n_terms").desc, col("code"))
      .limit(topK)
  }
}
