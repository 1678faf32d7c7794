package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and tokenization: deterministic stratified sampling,
  * concat-then-chunk sequence packing, PII scrubbing, and corpus
  * composition reporting. All are pure column expressions / windowed
  * aggregations, so every one is DuckDB-oracle-checkable and fully
  * codegen'd (no UDFs, no RNG — determinism comes from content hashes).
  */
object Curate {

  /** Deterministic stratified downsample: keep the `perStratum`
    * hash-smallest documents of every stratum. Ordering by md5(text)
    * is a seedless, engine-portable uniform order — re-running on the
    * same corpus reproduces the exact sample, and adding documents only
    * perturbs strata whose hash frontier moved (stable for incremental
    * re-curation).
    *
    * Scale: one hash shuffle on the stratum key + a top-k window per
    * stratum; nothing wide. Skewed strata are bounded by perStratum on
    * the output side; AQE handles the input skew.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, perStratum: Int,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // nulls LAST explicitly: Spark's default is NULLS FIRST ascending,
    // DuckDB's is NULLS LAST — on a corpus with null documents the two
    // engines would otherwise sample different sets
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(textCol)).asc_nulls_last, col(idCol))
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perStratum).drop("__rk")
  }

  /** Concat-then-chunk sequence packing (the standard LLM-pretraining
    * packing): within each shard, documents form one virtual token
    * stream in `idCol` order; each document is assigned the bin that
    * holds its FIRST token, for a bin size of `budget` tokens.
    *
    * Sharding is the scale design: a single global stream would be one
    * unpartitioned window (single reducer). Per-shard streams pack in
    * parallel — one shuffle on the shard key — which is how packing is
    * actually run at 100 TB (each shard becomes a training-file group).
    */
  def packTokenBudget(docs: DataFrame, budget: Int, shardCol: String,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", (col("tok_offset") / budget).cast("long"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII scrub: redact emails and phone numbers, reporting per-document
    * redaction counts. Regexes are RE2-compatible (no lookaround), so
    * the oracle applies the identical patterns. Pure codegen'd string
    * expressions — a narrow map over the corpus, no shuffle.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"))

  /** k-anonymity / l-diversity audit (Sweeney IJUFKS'02; Machanavajjhala
    * et al. ICDE'06) over a release candidate: group rows by the
    * quasi-identifier columns and report, per equivalence class, its
    * size (k-anonymity), the number of distinct sensitive values
    * (l-diversity), and the pass flags. The privacy gate a curation
    * pipeline runs before publishing event- or user-derived tables —
    * the structural complement of [[scrubPii]]'s content scrub.
    *
    * Scale: ONE combinable aggregation keyed by the quasi-identifier
    * tuple (count + distinct-sensitive via two-level agg); report size
    * is O(equivalence classes). All counts integer — exactly
    * oracle-checkable.
    */
  def kAnonymityReport(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                       k: Int, l: Int): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("class_size"),
        countDistinct(col(sensitiveCol)).cast("long").as("n_sensitive"))
      .withColumn("k_ok", col("class_size") >= k)
      .withColumn("l_ok", col("n_sensitive") >= l)

  /** Enforcement half of the audit: drop every row whose equivalence
    * class is smaller than `k` (suppression — the standard minimal
    * release action). One aggregation + a semi-join of the passing
    * classes back onto the rows — the class table is O(equivalence
    * classes), so AQE broadcasts it when small; no forced hint because
    * high-cardinality QI tuples can make it large.
    */
  def suppressSmallClasses(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    val ok = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= k)
      .drop("__n")
    df.join(ok, qiCols, "left_semi")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE'07) — the
    * distributional member of the [[kAnonymityReport]] privacy family:
    * per quasi-identifier equivalence class, the TOTAL VARIATION
    * distance between the class-conditional sensitive-value
    * distribution and the corpus-global one (the categorical
    * equal-ground-distance EMD the paper reduces to), micro-quantized,
    * with the pass flag tvd <= t. k-anonymity bounds class SIZE,
    * l-diversity bounds sensitive CARDINALITY; t-closeness is the gate
    * that catches a large, diverse class that still skews toward one
    * sensitive value.
    *
    * Exactness: TVD = Σ|n_cs·N − N_s·n_c| / (2·n_c·N) over all
    * sensitive values s — values ABSENT from the class contribute
    * N_s·n_c, folded in closed form as n_c·(N − Σ_{s∈class} N_s), so
    * only PRESENT (class, s) pairs are ever joined. All products ride
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); one floor division to
    * micro units at the end (both operands non-negative, so Spark div
    * and DuckDB // agree).
    *
    * Scale: one combinable (class, s) count shuffle, a broadcast
    * sensitive-marginal join (values-bounded), a broadcast 1-row
    * total, and a classes-bounded rollup — the corpus is scanned
    * twice and never re-shuffled wider than the class tuple.
    */
  /** Frequent-word subsampling (Mikolov et al. NIPS'13 — the word2vec
    * preprocessing every embedding/classifier pipeline inherits): each
    * token OCCURRENCE survives with p(w) = min(1, sqrt(t / f(w))),
    * f(w) the corpus frequency and t = 1/tDenom, so stopword mass
    * shrinks while rare-word mass is untouched. The coin is a
    * deterministic md5 hash of (w, doc_id, position) against the
    * micro-quantized threshold — reproducible across engines and
    * runs, no RNG. Reports per-source before/after token and vocab
    * mass (the audit shape; the kept-rows projection is the same
    * filter applied to the token stream).
    *
    * Exactness: the one double is sqrt on an exact integer ratio with
    * a fixed operand order — identical IEEE bits in both engines —
    * floored to micro units; everything else is integer.
    *
    * Scale: one posexplode pass, one combinable (word) count, a
    * vocabulary-bounded count join (AQE-broadcastable), a broadcast
    * 1-row total, and one combinable (source) rollup.
    */
  def subsampleFrequent(docs: DataFrame, tDenom: Long = 1000L,
                        groupCol: String = "source",
                        textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), col(groupCol).as("grp"),
      posexplode(filter(split(lower(col(textCol)), " "),
        w => length(w) > 0)).as(Seq("pos", "w")))
    val counts = toks.groupBy("w").agg(count(lit(1)).cast("long").as("cnt"))
    val total = toks.agg(count(lit(1)).cast("long").as("total"))
    val scored = toks.join(counts, "w").crossJoin(broadcast(total))
      .withColumn("p_micro", least(lit(1000000L),
        expr(s"CAST(floor(sqrt(CAST(total AS DOUBLE) / " +
          s"(CAST($tDenom AS DOUBLE) * CAST(cnt AS DOUBLE))) * 1e6) AS BIGINT)")))
      .withColumn("coin", pmod(conv(substring(md5(
        concat_ws("#", col("w"), col("doc_id"), col("pos"))), 1, 15),
        16, 10).cast("long"), lit(1000000L)))
      .withColumn("kept", col("coin") < col("p_micro"))
    scored.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_before"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_after"),
        countDistinct(col("w")).cast("long").as("vocab_before"),
        countDistinct(when(col("kept"), col("w"))).cast("long")
          .as("vocab_after"))
      .select(col("grp").as("source"), col("n_before"), col("n_after"),
        col("vocab_before"), col("vocab_after"),
        expr("(n_after * 1000000L) div n_before").as("keep_share_micro"))
  }

  def tClosenessReport(df: DataFrame, qiCols: Seq[String],
                       sensitiveCol: String, tMicro: Long): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val qs = qiCols.map(col)
    val cs = df.groupBy(qs :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).cast("long").as("n_cs"))
    val cls = cs.groupBy(qs: _*)
      .agg(sum("n_cs").cast("long").as("n_c"),
        count(lit(1)).cast("long").as("n_sensitive"))
    val g = df.groupBy(col(sensitiveCol).as("__s"))
      .agg(count(lit(1)).cast("long").as("n_s"))
    val tot = df.agg(count(lit(1)).cast("long").as("n"))
    cs.join(broadcast(g), "__s")
      .join(cls, qiCols)
      .crossJoin(broadcast(tot))
      .groupBy(qs: _*)
      .agg(
        sum(abs(dec(col("n_cs")) * dec(col("n")) -
          dec(col("n_s")) * dec(col("n_c")))).as("__present_l1"),
        sum(col("n_s")).cast("long").as("__n_in"),
        first(col("n_c")).as("n_c"),
        first(col("n_sensitive")).as("n_sensitive"),
        first(col("n")).as("__n"))
      .withColumn("__l1", col("__present_l1") +
        dec(col("n_c")) * (dec(col("__n")) - dec(col("__n_in"))))
      .withColumn("tvd_micro", expr(
        "CAST((__l1 * 1000000) div (2 * CAST(n_c AS DECIMAL(38,0)) * " +
          "CAST(__n AS DECIMAL(38,0))) AS BIGINT)"))
      .select(qs :+ col("n_c").as("class_size") :+ col("n_sensitive") :+
        col("tvd_micro") :+ (col("tvd_micro") <= tMicro).as("t_ok"): _*)
  }

  /** Overlapping token-window chunking — the context-length splitter
    * that turns documents into model-sized pieces (chunk i covers
    * tokens [i·stride, i·stride + chunkSize)). The last chunk starts at
    * the smallest multiple of `stride` that reaches the document's end,
    * so every token lands in ≥ 1 chunk and no chunk is empty.
    *
    * Scale: a narrow map + explode — no shuffle at all. Output size is
    * the (1 + overlap) blow-up the chunking policy itself implies; the
    * token array is bound as a lambda variable (evaluated once per
    * document) and each chunk's slice is O(chunkSize), so cost is
    * O(output tokens), not O(n²).
    */
  def chunkDocs(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val t = split(col(textCol), " ")
    val chunks = flatten(transform(array(t), tt => {
      val n = size(tt)
      val lastStart = ceil(greatest(n - chunkSize, lit(0)).cast("double") / stride).cast("int")
      transform(sequence(lit(0), lastStart), i =>
        struct(i.cast("long").as("chunk_id"),
          concat_ws(" ", slice(tt, i * stride + 1, lit(chunkSize))).as("chunk_text"),
          least(lit(chunkSize), n - i * stride).cast("long").as("n_chunk_tokens")))
    }))
    docs.select(col(idCol), explode(chunks).as("ch"))
      .select(col(idCol), col("ch.chunk_id").as("chunk_id"),
        col("ch.chunk_text").as("chunk_text"),
        col("ch.n_chunk_tokens").as("n_chunk_tokens"))
  }

  /** Benchmark decontamination: flag every corpus document that shares
    * at least one k-token shingle with a benchmark/eval set — the
    * standard guard against test-set leakage into training data
    * (n-gram-overlap decontamination à la GPT-3 appendix C).
    *
    * Scale: benchmark sets are tiny relative to a 100 TB corpus, so the
    * benchmark shingle set is BROADCAST and the corpus side never
    * shuffles its shingles — the per-doc overlap count comes from a
    * broadcast hash join + one map-side-combinable count, then a
    * broadcast-able id-only left join back onto the corpus.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, k: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docSh = docs.select(col(idCol).as("__d"),
      explode(array_distinct(Dedup.shingleCol(col(textCol), k))).as("sh"))
    val benchSh = benchmark
      .select(explode(array_distinct(Dedup.shingleCol(col(textCol), k))).as("sh"))
      .distinct()
    val shared = docSh.join(broadcast(benchSh), "sh")
      .groupBy(col("__d")).agg(count(lit(1)).as("n_shared"))
    docs.join(shared, col(idCol) === col("__d"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") > 0)
      .drop("__d")
  }

  /** The decontamination REPORT (GPT-3 appendix-C shape): not just the
    * boolean flag but the overlap FRACTION — shared k-shingles over the
    * document's own distinct k-shingles — and the resulting drop
    * decision at `dropThreshold`. The fraction is what separates
    * "quotes one benchmark sentence" (keep, maybe redact) from "IS the
    * benchmark" (drop) in a production decontamination pass.
    *
    * Scale: [[decontaminate]]'s broadcast profile unchanged; the
    * per-doc distinct-gram denominator is an in-row expression, no new
    * shuffle.
    */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame, k: Int = 8,
                          dropThreshold: Double = 0.05,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    decontaminate(docs, benchmark, k, idCol, textCol)
      .withColumn("n_grams", greatest(
        size(array_distinct(Dedup.shingleCol(col(textCol), k))).cast("long"), lit(1L)))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_grams").cast("double"))
      .withColumn("drop_doc", col("overlap_frac") >= dropThreshold)

  /** Contamination TRACE — pair-level evidence behind [[decontaminate]]'s
    * per-doc flag: (train doc, benchmark doc, shared k-shingle count).
    * The audit artifact reviewers actually read: WHICH eval item leaked
    * into WHICH training document, strongest links first — and the
    * input to per-benchmark leak dashboards.
    *
    * Scale: same broadcast profile as [[decontaminate]] — the benchmark
    * (id, shingle) relation is tiny and broadcast; the corpus's
    * shingles never shuffle; output is bounded by true overlaps.
    */
  def contaminationTrace(docs: DataFrame, benchmark: DataFrame, k: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val docSh = docs.select(col(idCol).as("__d"),
      explode(array_distinct(Dedup.shingleCol(col(textCol), k))).as("sh"))
    val benchSh = benchmark.select(col(idCol).as("__b"),
      explode(array_distinct(Dedup.shingleCol(col(textCol), k))).as("sh"))
    docSh.join(broadcast(benchSh), "sh")
      .groupBy(col("__d"), col("__b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .select(col("__d").as("doc_id"), col("__b").as("bench_id"),
        col("n_shared"))
  }

  /** Bloom-filter decontamination: the same membership test as
    * [[decontaminate]] but against an approximate broadcast structure —
    * the form to reach for when even the DISTINCT benchmark shingle set
    * is too wide to ship as a join hash table (a bloom filter costs
    * ~10 bits/shingle at 1% fpp vs tens of bytes per shingle). The
    * sketch guarantees no false negatives, so every truly contaminated
    * document is flagged; false positives over-flag at ~`fpp`, which a
    * decontamination guard tolerates by construction (it only discards
    * extra documents).
    *
    * Scale: the filter builds from one pass over the (tiny) benchmark,
    * ships in the plan as a binary literal (Spark's own
    * BloomFilterMightContain expression is internal to runtime-filter
    * injection, so graft carries its own: the codegen'd
    * `bloom_any_contain`, deserialized once per task, probing each
    * document's shingle array IN-ROW with short-circuit on first hit),
    * and the corpus side stays fully NARROW — no explode, no shuffle,
    * no ScalaUDF codegen fence (dc1's broadcast join still explodes
    * corpus shingles to rows).
    */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame, k: Int = 8,
                         fpp: Double = 0.01,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val benchSh = benchmark
      .select(explode(array_distinct(Dedup.shingleCol(col(textCol), k))).as("sh"))
      .distinct()
    val n = benchSh.count() // one tiny job over the benchmark only
    val bf = benchSh.stat.bloomFilter("sh", math.max(n, 1L), fpp)
    val shingles = array_distinct(Dedup.shingleCol(col(textCol), k))
    val flagged =
      if (graft.functions.GraftExtensions.available("bloom_any_contain")) {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        call_function("bloom_any_contain", lit(bos.toByteArray), shingles)
      } else {
        // fallback for sessions built without GraftExtensions
        val bfBc = docs.sparkSession.sparkContext.broadcast(bf)
        udf((shs: Seq[String]) => shs.exists(bfBc.value.mightContainString))
          .apply(shingles)
      }
    docs.withColumn("bloom_flagged", flagged)
  }

  /** Per-stratum quality cap (the RefinedWeb-style per-domain document
    * cap): keep at most `cap` documents of every stratum, preferring
    * higher [[Text.withQuality]] scores (ties broken by id so the cut
    * is total-ordered and engine-reproducible). Bounds any single
    * domain's contribution to the corpus — the guard against one crawl
    * host dominating training data.
    *
    * Scale: one hash shuffle on the stratum key + a per-stratum top-k
    * window; output bounded at cap × strata regardless of skew.
    */
  def qualityCap(docs: DataFrame, cap: Int, stratumCol: String = "source",
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(cap > 0, "cap must be positive")
    // nanvl: empty/whitespace-only text yields NaN ratios (0.0/0.0) in
    // the quality score, and Spark sorts NaN ABOVE every double in a
    // descending order — unguarded, degenerate docs would outrank real
    // content and consume cap slots.
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(nanvl(col("quality_score"), lit(0.0)).desc, col(idCol))
    Text.withQuality(docs, textCol)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap).drop("__rk")
  }

  /** Temperature-based source rebalancing at T=2 (sampling weight
    * n_s^0.5 instead of n_s — the multilingual-pretraining mixture
    * trick): downsample each stratum at rate
    * `sqrt(n_min... )` — concretely `w_s / max_t w_t` with
    * `w_s = 1/sqrt(n_s)`, so the smallest stratum keeps everything and
    * a stratum 100× larger keeps 10%. Selection is a seedless
    * content-hash coin (first 8 md5 hex digits as a uniform in [0,1)),
    * so the sample is reproducible and incremental re-curation keeps
    * prior decisions.
    *
    * The exponent is fixed at 0.5 (not a parameter) deliberately:
    * sqrt is IEEE-correctly-rounded in every engine while pow(x, α) is
    * not, and bit-reproducibility across engines is part of the
    * operator's contract.
    *
    * Scale: per-stratum counts are a map-side-combinable aggregate over
    * ids only; the tiny (stratum, rate) table broadcasts back onto the
    * corpus — no corpus-side shuffle at all.
    */
  def temperatureResample(docs: DataFrame, stratumCol: String = "source",
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val counts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("long").as("__n"))
      .withColumn("__w", lit(1.0) / sqrt(col("__n").cast("double")))
    val maxW = counts.agg(max(col("__w")).as("__maxw"))
    val rates = counts.crossJoin(broadcast(maxW))
      .withColumn("keep_rate", col("__w") / col("__maxw"))
      .select(col(stratumCol), col("keep_rate"))
    val u = conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    docs.join(broadcast(rates), stratumCol)
      .withColumn("u", u)
      .filter(col("u") < col("keep_rate"))
  }

  /** Resample a corpus to an EXPLICIT target mixture — the recipe-table
    * form every pretraining run publishes ("webtext 0.50, books 0.16,
    * …"), as opposed to [[temperatureResample]]'s formulaic smoothing.
    * Stratum `s` with `n_s` source docs and target weight `w_s`
    * (weights are normalized over the strata present) is drawn at rate
    * `r_s = w_s · totalDocs / n_s`:
    *  - `r_s < 1` downsamples with the seedless md5 content coin
    *    (same coin as [[temperatureResample]] — re-curation keeps
    *    prior decisions);
    *  - `r_s > 1` UP-samples by integer repetition: every doc appears
    *    `⌊r_s⌋` times plus once more when its coin < frac(r_s), so the
    *    stratum lands within one doc of its target in expectation and
    *    deterministically given the corpus.
    * Rates are capped at `maxRepeat` epochs — repeating data much past
    * ~4 epochs stops buying model quality (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"), so a target that
    * demands more than `maxRepeat` passes is clamped, not honored.
    * Strata absent from `targets` get weight 0 (dropped).
    *
    * Output = input columns + `epoch` (0-based repeat index): a
    * downstream [[epochShuffle]] keyed on (id, epoch) spreads the
    * copies through the training order instead of clustering them.
    *
    * Scale: per-stratum counts are a map-side-combinable aggregate;
    * the (stratum, rate) table is rows-of-a-literal-map sized and
    * broadcasts onto the corpus; repetition is a codegen'd
    * sequence-explode — no corpus-side shuffle at all, output bytes
    * bounded by `totalDocs · avg doc · (1 + 1/totalDocs)`.
    */
  def mixToTarget(docs: DataFrame, targets: Map[String, Double],
                  totalDocs: Long, maxRepeat: Int = 4,
                  stratumCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0.0),
      "targets must be non-empty with non-negative weights")
    require(totalDocs > 0 && maxRepeat >= 1, "totalDocs and maxRepeat must be positive")
    val wSum = targets.values.sum
    require(wSum > 0.0, "at least one target weight must be positive")
    val tgt = docs.sparkSession.createDataFrame(
      targets.toSeq.sortBy(_._1).map { case (s, w) => (s, w / wSum) })
      .toDF(stratumCol, "__w")
    val rates = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("double").as("__n"))
      .join(tgt, stratumCol) // inner: unlisted strata are dropped
      .withColumn("__r", least(col("__w") * lit(totalDocs.toDouble) / col("__n"),
        lit(maxRepeat.toDouble)))
      .select(col(stratumCol), col("__r"))
    val u = conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    val nRep = (floor(col("__r")) +
      when(u < col("__r") - floor(col("__r")), 1L).otherwise(0L)).cast("int")
    docs.join(broadcast(rates), stratumCol)
      .withColumn("__nrep", nRep)
      .filter(col("__nrep") > 0) // sequence() would descend on (0, -1)
      .withColumn("epoch", explode(sequence(lit(0), col("__nrep") - 1)))
      .drop("__r", "__nrep")
  }

  /** Corpus composition report: document and token counts per
    * (stratum, lang) with each cell's share of the total token budget —
    * the standard mixture table a data-curation run publishes.
    * One map-side-combinable aggregation + a scalar total.
    */
  def sourceComposition(docs: DataFrame, stratumCol: String = "source",
                        langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val agg = docs.groupBy(col(stratumCol), col(langCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(split(col(textCol), " "))).cast("long").as("n_tokens"))
    // share via a broadcast one-row total, NOT an unpartitioned window:
    // a global window funnels the whole mixture table through one
    // reducer, while re-aggregating the already-tiny cell table and
    // broadcasting the scalar keeps every stage parallel
    val total = agg.agg(sum(col("n_tokens")).as("__total"))
    agg.crossJoin(broadcast(total))
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("__total").cast("double"))
      .drop("__total")
  }

  /** Deterministic train/val/test assignment: a content-hash coin
    * (first 8 md5 hex digits of the id as a uniform in [0,1)) cut at
    * the cumulative fractions of `fractions`. Seedless and
    * engine-portable by construction — re-running the split on a grown
    * corpus never reassigns an existing document (the property that
    * keeps eval sets uncontaminated across recrawls), unlike
    * `randomSplit`, whose assignment depends on partitioning.
    *
    * Scale: a narrow per-row map — no shuffle, no state, trivially
    * 100 TB-safe.
    */
  /** Model-based quality filtering: a fixed-weight logistic-regression
    * scorer over the [[Text.withQuality]] features — the CCNet/
    * fastText-style "quality classifier" stage of a training-data
    * pipeline, run as pure codegen column arithmetic (the model is a
    * handful of literals; no UDF, no model server, no shuffle).
    *
    * The keep decision is computed from the LINEAR term (sign test), so
    * it is exact integer-ratio arithmetic — the sigmoid is attached for
    * ranking/calibration only. At 100 TB this fuses into the same
    * whole-stage pass as the rest of the quality battery.
    */
  def lrQualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val f = Text.withQuality(docs, textCol)
    val linear = lit(-2.0) + col("alpha_ratio") * lit(3.0) +
      col("stopword_ratio") * lit(2.5) + col("mean_word_len") * lit(0.15) -
      col("punct_ratio") * lit(4.0)
    f.withColumn("lr_linear", linear)
      .withColumn("lr_score", lit(1.0) / (lit(1.0) + exp(lit(0.0) - col("lr_linear"))))
      .withColumn("lr_keep", col("lr_linear") >= 0.0)
  }

  /** SFT conversation linting: parse a JSON transcript column
    * (`[{"role":…,"content":…},…]`) and emit the chat-data QA battery —
    * turn count, user-first check, role-alternation violations, empty
    * turns, and the composite pass flag. The checks instruction-tuning
    * pipelines run before a transcript may enter the training mix.
    *
    * Pure codegen: from_json with an explicit schema (no inference
    * scan) + in-row HOFs over the turn array — no shuffle, fuses into
    * the transcript scan at any scale.
    */
  def lintConversations(df: DataFrame, convCol: String): DataFrame = {
    val turns = from_json(col(convCol),
      org.apache.spark.sql.types.DataType.fromDDL(
        "array<struct<role: string, content: string>>"))
    val withT = df.withColumn("__t", turns)
    val n = size(col("__t"))
    withT
      .withColumn("n_turns", n.cast("long"))
      .withColumn("first_role_ok",
        coalesce(try_element_at(col("__t"), lit(1)).getField("role") === "user",
          lit(false)))
      .withColumn("n_alternation_violations",
        // sequence(2, n) flips to a DESCENDING range when n < 2 — guard
        when(n >= 2, size(filter(sequence(lit(2), n), i =>
          element_at(col("__t"), i).getField("role")
            === element_at(col("__t"), i - 1).getField("role"))))
          .otherwise(lit(0)).cast("long"))
      .withColumn("n_empty_turns",
        size(filter(col("__t"), t => length(t.getField("content")) === 0)).cast("long"))
      .withColumn("lint_pass",
        col("first_role_ok") && col("n_alternation_violations") === 0L
          && col("n_empty_turns") === 0L)
      .drop("__t")
  }

  /** Deterministic epoch shuffle + sharding: the "shuffle once, shard
    * for N data-parallel readers" step in front of a training run. Each
    * document draws a shard and an in-shard position from the md5 coin
    * (keyed by `seed`, so every epoch is a fresh-but-reproducible
    * permutation), giving any worker `i` its shard as a contiguous,
    * stably-ordered slice with no global coordination.
    *
    * Scale: both hash slices are narrow in-row expressions; the only
    * wide stage is the per-shard position window, whose partitions are
    * n/nShards rows each. SIZING RULE: each shard's rows land on ONE
    * reducer for the local position sort, so `nShards` must grow ∝
    * corpus size to keep shards bounded (~1 GB each) — nShards is the
    * reader parallelism AND the sort parallelism; a fixed small
    * nShards on a growing corpus turns the window into a single-task
    * sort. [[shardSizeWarning]] checks the rule from plan statistics
    * (free — no job) and this method prints its warning when the
    * estimate exceeds ~4 GiB/shard. No global sort ever happens — the
    * "shuffle" lives entirely in the hash.
    */
  /** The shard a document draws under [[epochShuffle]]'s seeded md5
    * coin — exposed so downstream steps ([[shardManifest]]) can name a
    * document's shard without paying the in-shard position window.
    */
  def shardAssign(idCol: Column, nShards: Int, seed: Long): Column =
    pmod(conv(substring(
      md5(concat(lit(seed.toString), lit(":"), idCol.cast("string"))), 1, 8),
      16, 10).cast("long"), lit(nShards.toLong)).cast("int")

  def epochShuffle(docs: DataFrame, nShards: Int, seed: Long = 0L,
                   idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "need at least one shard")
    shardSizeWarning(docs, nShards).foreach(System.err.println)
    val h = md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
    val h2 = conv(substring(h, 9, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("__h2").asc, col(idCol).asc)
    docs.withColumn("shard", shardAssign(col(idCol), nShards, seed))
      .withColumn("__h2", h2)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h2")
  }

  /** [[epochShuffle]]'s shard-sizing rule made checkable: a plan-stat
    * estimate (optimizer `sizeInBytes` — costs no job) of bytes per
    * shard, returning a warning when it exceeds `warnBytes` (default
    * 4 GiB). Callers sizing shards for a training run should treat the
    * warning as "raise nShards": the per-shard position sort runs on a
    * single reducer by construction.
    */
  def shardSizeWarning(docs: DataFrame, nShards: Int,
                       warnBytes: Long = 4L << 30): Option[String] = {
    val perShard = docs.queryExecution.optimizedPlan.stats.sizeInBytes / nShards
    if (perShard > warnBytes)
      Some(s"epochShuffle: ~$perShard estimated bytes/shard across $nShards shards " +
        s"(> $warnBytes) — each shard position-sorts on one reducer; " +
        "raise nShards with the corpus so shards stay ~1 GB")
    else None
  }

  /** Shard manifest — the handoff-integrity artifact between the data
    * pipeline and a training job: one row per shard with document,
    * token, and character counts plus an ORDER-INSENSITIVE checksum,
    * so the trainer can verify a shard it just read (in ANY order —
    * parquet split order is not stable) against the manifest, and a
    * resume can detect a silently rewritten shard without re-reading
    * the rest of the lake.
    *
    * Checksum: per row, the first 15 md5 hex digits of `id:text` as a
    * 60-bit integer (fits BIGINT in every engine — no 64-bit overflow
    * edge), folded per shard with bit_xor. XOR is commutative and
    * associative, so the fold is map-side combinable and file-order
    * independent; a corrupted, dropped, or duplicated row flips the
    * shard checksum with probability 1 − 2⁻⁶⁰ — integrity-check grade,
    * not cryptographic (an ADVERSARY can forge XOR; use a signed
    * per-file digest for that threat model).
    *
    * Scale: one map-side-combinable aggregation keyed by shard — the
    * same profile as counts-by-key; the text itself never shuffles
    * (each row contributes a 60-bit value).
    */
  def shardManifest(docs: DataFrame, shardCol: String = "shard",
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val rowHash = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":"), col(textCol))), 1, 15),
      16, 10).cast("long")
    docs.groupBy(col(shardCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(split(col(textCol), " ", -1))).cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        call_function("bit_xor", rowHash).as("checksum"))
  }

  /** Shuffle-quality audit — the trainer-side acceptance check for
    * [[epochShuffle]]/[[shardAssign]] output: per shard, the
    * source-composition entropy, the largest single-source share and
    * the KL divergence to the GLOBAL source mix. A well-mixed shuffle
    * has every shard's composition ≈ the corpus composition (KL ≈ 0,
    * entropy ≈ global entropy); a broken one (sorted input leaking
    * through, a degenerate seed, shard-count collisions) shows up as a
    * high-KL / low-entropy shard row before any GPU time is spent.
    *
    * Scale: everything reduces over (shard × source) cells — one
    * combinable count shuffle, tiny joins on those cell aggregates, a
    * broadcast of the source-global mix. Nothing touches text.
    */
  def shuffleQualityReport(shuffled: DataFrame, groupCol: String = "source",
                           shardCol: String = "shard"): DataFrame = {
    val cell = shuffled.groupBy(col(shardCol), col(groupCol))
      .agg(count(lit(1)).cast("double").as("__c"))
    val shardTot = cell.groupBy(col(shardCol))
      .agg(sum(col("__c")).as("__st"))
    val global = broadcast(
      shuffled.groupBy(col(groupCol))
        .agg(count(lit(1)).cast("double").as("__g"))
        .crossJoin(shuffled.agg(count(lit(1)).cast("double").as("__n"))))
    val p = col("__c") / col("__st")
    val q = col("__g") / col("__n")
    cell.join(shardTot, shardCol).join(global, groupCol)
      .groupBy(col(shardCol))
      .agg(max(col("__st")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_sources"),
        sum(-p * log(p)).as("entropy"),
        max(p).as("max_share"),
        sum(p * log(p / q)).as("kl"))
  }

  /** Deterministic token-dropout augmentation: token i of doc d drops
    * iff md5(d:i:token) lands in the dropRate slice of the hash space —
    * the seedless md5-coin discipline (cur1/cur6), so the augmented
    * corpus is REPRODUCIBLE run-to-run and engine-to-engine: reruns,
    * retries and the SQL oracle all regenerate byte-identical text.
    * The cheap-and-cheerful robustness augmentation for classifier
    * training data.
    *
    * Scale: one in-row higher-order pass — no shuffle, no UDF, no RNG
    * state to coordinate across executors.
    */
  def tokenDropout(docs: DataFrame, dropDenom: Int = 10,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val kept = filter(toks, (x, i) =>
      pmod(Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":"),
        i.cast("string"), lit(":"), x)), lit(dropDenom.toLong)) =!= 0)
    docs.select(col(idCol),
      size(toks).cast("long").as("n_orig"),
      size(kept).cast("long").as("n_kept"),
      md5(array_join(kept, " ")).as("aug_md5"))
  }

  /** Competence-based curriculum pacing table (Platanios et al.,
    * NAACL'19): at competence c the trainer samples only from the
    * easiest c-fraction of the corpus; this emits, per grid step, the
    * target count `k = ⌊c·n⌋`, the difficulty threshold that admits
    * it, and how many documents sit at-or-below the threshold (ties
    * admit whole difficulty groups — the deterministic choice both
    * engines reproduce). The pacing schedule is then a literal table
    * the sampler joins against — no per-epoch re-sort.
    *
    * Scale: difficulty is integer-valued (tokens, micro quality), so
    * the quantile ladder runs on the DISTINCT-difficulty table
    * (bounded) via one cumulative — never a corpus-wide rank (the
    * hi2/gn1 lesson). ONE combinable count shuffle total.
    */
  def competenceCurriculum(docs: DataFrame, difficulty: Column,
                           grid: Seq[Double] = (1 to 10).map(_ / 10.0))
      : DataFrame = {
    val per = docs.select(difficulty.cast("long").as("diff"))
      .groupBy("diff").agg(count(lit(1)).cast("long").as("cnt"))
    val w = Window.orderBy("diff")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum("cnt").cast("long").as("n"))
    val cum = per.withColumn("cum", sum("cnt").over(w).cast("long"))
      .crossJoin(broadcast(tot))
    val steps = cum.select(col("diff"), col("cum"), col("n"),
      explode(typedlit(grid.map(c => math.floor(c * 1000 + 0.5).toLong)))
        .as("c_milli"))
    steps
      .withColumn("k_target", expr("(c_milli * n) div 1000L"))
      .filter(col("cum") >= col("k_target"))
      .groupBy("c_milli", "k_target", "n")
      .agg(min("diff").as("threshold_diff"))
      .join(cum.select(col("diff").as("threshold_diff"), col("cum")
        .as("n_at_or_below")), Seq("threshold_diff"))
      .select(col("c_milli"), col("n").as("n_docs"), col("k_target"),
        col("threshold_diff"), col("n_at_or_below"))
  }

  /** Length-grouped batching audit (the HF `LengthGroupedSampler`
    * rationale, quantified): form fixed-size batches under two
    * orderings — hash-random (the default loader) and length-sorted —
    * and report each strategy's PADDING WASTE: a batch pads every
    * sequence to its longest member, so waste = Σ_batch B·max_len −
    * Σ len. Length-grouping routinely cuts padded-token throughput
    * loss 2-5×; this emits the exact number for THIS corpus, which is
    * what decides whether the loader change pays.
    *
    * Batching is PER SHARD (`shardCol`) — the cur2 discipline: a
    * global sort is a single reducer, per-shard streams are how
    * batching actually runs at scale, and the report sums shard
    * results exactly.
    *
    * Determinism: lengths are exact token counts; both orderings are
    * total ((md5(id), id) / (len desc, md5(id), id)); all outputs are
    * exact integers with one micro division for the waste fraction.
    */
  def lengthBatchingAudit(docs: DataFrame, batchSize: Int,
                          shardCol: String, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    // lazy cache entry shared by the two ordering audits; released by
    // the caller's clearCache() (the calibrationReport contract)
    val base = docs.select(col(shardCol).as("sh"), col(idCol).as("id"),
        size(filter(split(lower(col(textCol)), " "), t => length(t) > lit(0)))
          .cast("long").as("len"))
      .withColumn("h", md5(col("id").cast("string")))
      .persist()
    def audit(name: String, orderCols: Seq[Column]): DataFrame = {
      val w = Window.partitionBy("sh").orderBy(orderCols: _*)
      base
        .withColumn("b", ((row_number().over(w) - 1) / batchSize).cast("long"))
        .groupBy("sh", "b")
        .agg(count(lit(1)).cast("long").as("bn"),
          sum("len").cast("long").as("bl"), max("len").as("bm"))
        .agg(count(lit(1)).cast("long").as("n_batches"),
          sum("bl").cast("long").as("total_tokens"),
          sum(col("bn") * col("bm")).cast("long").as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          expr("((padded_tokens - total_tokens) * 1000000L) div padded_tokens")
            .as("waste_micro"))
    }
    audit("random", Seq(col("h").asc, col("id").asc))
      .unionByName(audit("length", Seq(col("len").desc, col("h").asc, col("id").asc)))
  }

  /** T5-style span corruption (Raffel et al., JMLR'20 §3.1.4), the
    * denoising-objective data prep: mask contiguous token spans with
    * ordered sentinels (`<extra_id_k>`) and emit the (input, targets)
    * pair — input keeps unmasked text with one sentinel per span,
    * targets list each sentinel followed by the tokens it hides.
    *
    * BLOCK-LOCAL placement instead of T5's sequential Poisson draw:
    * positions partition into `blockSize` blocks; per block three
    * md5 coins (the cur1/aug1 seedless-coin discipline) decide
    * span-present (1/spanDenom of blocks), offset (0..2) and length
    * (1..maxSpanLen ≤ blockSize−2), so spans can NEVER overlap and
    * the whole construction is a closed-form per-position expression —
    * no sequential fold, no RNG state, reproducible engine-to-engine
    * and run-to-run (expected mask rate = E[len]/(spanDenom·blockSize)
    * = 10% at the defaults, T5's ballpark).
    *
    * Output ships md5 digests of input/targets (the bpe3 hash-not-
    * text convention) plus the count columns the loss accounting
    * needs. Scale: one in-row pass; per-token work is O(spans in
    * doc) = O(len/blockSize) — chunk pathological documents first
    * (cur5) as with every in-row text op.
    */
  def spanCorruption(docs: DataFrame, blockSize: Int = 5,
                     spanDenom: Int = 4, maxSpanLen: Int = 3,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(maxSpanLen + 2 <= blockSize, "span must fit its block at any offset")
    def coin(tag: String) =
      s"""CAST(conv(substring(md5(concat(CAST($idCol AS STRING), ':',
         |  CAST(b AS STRING), '$tag')), 1, 15), 16, 10) AS BIGINT)""".stripMargin
        .replace("\n", " ")
    val st = s"(b - 1) * $blockSize + 1 + pmod(${coin(":o")}, 3L)"
    docs
      .withColumn("__toks",
        filter(split(lower(col(textCol)), " "), t => length(t) > lit(0)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__spans", expr(
        s"""filter(transform(
           |  sequence(1L, greatest(CAST(ceil(__n / ${blockSize}.0) AS BIGINT), 1L)),
           |  b -> CASE WHEN pmod(${coin(":s")}, ${spanDenom}L) = 0 AND ($st) <= __n
           |    THEN ($st) * 64L
           |      + least(1L + pmod(${coin(":l")}, ${maxSpanLen}L), __n - ($st) + 1L)
           |    ELSE -1L END),
           |  sp -> sp > 0L)""".stripMargin))
      .withColumn("__input", expr(
        """array_join(flatten(transform(
          |    sequence(1L, greatest(__n, 1L)), i ->
          |  CASE WHEN i > __n THEN CAST(array() AS ARRAY<STRING>)
          |  WHEN size(filter(__spans, sp -> (sp div 64L) = i)) > 0 THEN
          |    array(concat('<extra_id_',
          |      CAST(size(filter(__spans, sp -> (sp div 64L) < i)) AS STRING), '>'))
          |  WHEN size(filter(__spans, sp ->
          |      (sp div 64L) <= i AND i < (sp div 64L) + (sp % 64L))) > 0 THEN
          |    CAST(array() AS ARRAY<STRING>)
          |  ELSE array(element_at(__toks, CAST(i AS INT)))
          |  END)), ' ')""".stripMargin))
      .withColumn("__targets", expr(
        """CASE WHEN size(__spans) = 0 THEN '' ELSE
          |  array_join(flatten(transform(sequence(1, size(__spans)), kk ->
          |    concat(array(concat('<extra_id_', CAST(kk - 1 AS STRING), '>')),
          |      slice(__toks, CAST(element_at(__spans, kk) div 64L AS INT),
          |        CAST(element_at(__spans, kk) % 64L AS INT))))), ' ')
          |END""".stripMargin))
      .select(col(idCol), col("__n").as("n_tokens"),
        size(col("__spans")).cast("long").as("n_spans"),
        expr("aggregate(__spans, 0L, (a, sp) -> a + (sp % 64L))").as("n_masked"),
        md5(col("__input")).as("input_md5"),
        md5(col("__targets")).as("targets_md5"))
  }

  /** Forward-chaining time-series cross-validation audit (Bergmeir &
    * Benítez 2012; sklearn's TimeSeriesSplit): fold k trains on the
    * first k time buckets and validates on bucket k+1 — the ONLY CV
    * scheme that never shows the model the future. Emits one row per
    * fold with train/val sizes and the leakage invariant
    * (`boundary_ok`: max train ts < min val ts) checked from the
    * actual data, not the construction.
    *
    * Determinism: buckets are `date_trunc(bucket)`; fold indexing is a
    * dense rank over the BUCKET table; all counts exact.
    *
    * Scale: one combinable bucket-count shuffle; folds live on the
    * buckets-bounded table (one prefix-sum window).
    */
  def forwardChainingFolds(events: DataFrame, tsCol: String,
                           bucket: String = "week"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = events
      .select(date_trunc(bucket, col(tsCol)).as("w"), col(tsCol).as("ts"))
      .groupBy("w")
      .agg(count(lit(1)).cast("long").as("n"),
        max("ts").as("w_max"), min("ts").as("w_min"))
    val wOrd = Window.orderBy("w")
    val ranked = b
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("cum_n", sum("n").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .withColumn("cum_max_ts", max("w_max").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // fold k = train buckets 1..k, validate bucket k+1
    val train = ranked.select(col("k").as("fold"),
      col("cum_n").as("n_train"), col("cum_max_ts"))
    val valid = ranked.select((col("k") - 1L).as("fold"),
      col("n").as("n_val"), col("w_min").as("val_min_ts"))
    train.join(valid, "fold")
      .select(col("fold"), col("n_train"), col("n_val"),
        (col("cum_max_ts") < col("val_min_ts")).as("boundary_ok"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the code/infilling-objective data prep: on an md5-coin-selected
    * fraction of documents, split the token stream into (prefix,
    * middle, suffix) at md5-derived cut points and emit BOTH orderings
    * the paper trains on — PSM `<|fim_pre|> P <|fim_suf|> S
    * <|fim_mid|> M` and SPM `<|fim_suf|> S <|fim_pre|> P <|fim_mid|>
    * M`. Untransformed documents pass through verbatim (the paper's
    * joint objective keeps a plain-AR fraction).
    *
    * Determinism: the apply-coin and both cut points derive from
    * md5(doc_id ‖ tag) (the aug2/cur1 md5-coin discipline — replayable
    * in any engine); cut points cover the full valid range (prefix
    * 0..n−1, middle ≥ 1, suffix ≥ 0). Digests stand in for the
    * transformed strings (bounded output width).
    *
    * Scale: entirely narrow — one map pass, no shuffle; the transform
    * is O(tokens) per document.
    */
  def fimTransform(docs: DataFrame, applyDenom: Int = 2,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    def coin(tag: String) =
      s"""CAST(conv(substring(md5(concat(CAST($idCol AS STRING), '$tag')),
         |  1, 15), 16, 10) AS BIGINT)""".stripMargin.replace("\n", " ")
    docs
      .withColumn("__toks",
        filter(split(lower(col(textCol)), " "), t => length(t) > lit(0)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("fim_applied",
        expr(s"pmod(${coin(":a")}, ${applyDenom}L) = 0 AND __n >= 3L"))
      .withColumn("__p", expr(
        s"CASE WHEN fim_applied THEN pmod(${coin(":p")}, __n) ELSE __n END"))
      .withColumn("__m", expr(
        s"CASE WHEN fim_applied THEN 1L + pmod(${coin(":m")}, __n - __p) " +
          "ELSE 0L END"))
      .withColumn("__pre",
        expr("array_join(slice(__toks, 1, CAST(__p AS INT)), ' ')"))
      .withColumn("__mid", expr(
        "array_join(slice(__toks, CAST(__p + 1L AS INT), CAST(__m AS INT)), ' ')"))
      .withColumn("__suf", expr(
        """array_join(slice(__toks, CAST(__p + __m + 1L AS INT),
          |  CAST(__n - __p - __m AS INT)), ' ')""".stripMargin))
      .select(col(idCol), col("__n").as("n_tokens"), col("fim_applied"),
        col("__p").as("prefix_len"), col("__m").as("middle_len"),
        (col("__n") - col("__p") - col("__m")).as("suffix_len"),
        md5(when(col("fim_applied"),
          concat(lit("<|fim_pre|> "), col("__pre"), lit(" <|fim_suf|> "),
            col("__suf"), lit(" <|fim_mid|> "), col("__mid")))
          .otherwise(expr("array_join(__toks, ' ')"))).as("psm_md5"),
        md5(when(col("fim_applied"),
          concat(lit("<|fim_suf|> "), col("__suf"), lit(" <|fim_pre|> "),
            col("__pre"), lit(" <|fim_mid|> "), col("__mid")))
          .otherwise(expr("array_join(__toks, ' ')"))).as("spm_md5"))
  }

  /** Preference-pair construction for DPO/RLHF-style training data:
    * within each group, pair the i-th BEST-scoring item with the i-th
    * WORST (the margin-maximizing matching — pair 1 carries the widest
    * chosen/rejected gap, pair 2 the next, …), keeping at most
    * `maxPairs` pairs per group, never pairing an item with itself
    * (i ≤ ⌊n/2⌋), and dropping pairs whose margin falls below
    * `minMarginMicro` (a zero-margin "preference" teaches nothing).
    *
    * Determinism: scores quantize to MICRO once; both rankings order
    * by (score, id) totally, so pair membership and margins are exact
    * integers.
    *
    * Scale: two window ranks per group partition + a (group, i)
    * equi-join of the two rank tables — group-local, no corpus-wide
    * order. At extreme group cardinality pre-bucket scores (the woe1
    * note).
    */
  def preferencePairs(scored: DataFrame, groupCol: String,
                      scoreCol: String, idCol: String,
                      maxPairs: Int = 3,
                      minMarginMicro: Long = 1L): DataFrame = {
    val q = scored.select(col(groupCol).as("g"), col(idCol).as("id"),
      floor(col(scoreCol) * lit(1e6) + lit(0.5)).cast("long").as("sm"))
    val wBest = Window.partitionBy("g").orderBy(col("sm").desc, col("id").asc)
    val wWorst = Window.partitionBy("g").orderBy(col("sm").asc, col("id").desc)
    val ranked = q
      .withColumn("rb", row_number().over(wBest))
      .withColumn("rw", row_number().over(wWorst))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
    val best = ranked.filter(col("rb") <= maxPairs && col("rb") * 2 <= col("n"))
      .select(col("g"), col("rb").as("i"), col("id").as("chosen_id"),
        col("sm").as("chosen_micro"))
    val worst = ranked.filter(col("rw") <= maxPairs && col("rw") * 2 <= col("n"))
      .select(col("g"), col("rw").as("i"), col("id").as("rejected_id"),
        col("sm").as("rejected_micro"))
    best.join(worst, Seq("g", "i"))
      .withColumn("margin_micro", col("chosen_micro") - col("rejected_micro"))
      .filter(col("margin_micro") >= minMarginMicro)
      .select(col("g").as(groupCol), col("i").cast("long").as("pair_rank"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_micro"), col("rejected_micro"), col("margin_micro"))
  }

  def hashSplit(docs: DataFrame, idCol: String,
                fractions: Seq[(String, Double)]): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail
    val assign = fractions.zip(cuts).init
      .foldRight(lit(fractions.last._1): Column) { case (((name, _), cut), els) =>
        when(u < cut, name).otherwise(els)
      }
    docs.withColumn("split", assign)
  }

  /** The hashed unigram+bigram feature stream of a text corpus: one row
    * per feature OCCURRENCE, bucketed into `nBuckets` via the md5 coin
    * (portable across engines, unlike murmur/xxhash). Tokenization is
    * the house convention (lower + single-space split, empties
    * dropped); bigrams join with '_'.
    */
  private def hashedNgramFeatures(docs: DataFrame, nBuckets: Int,
                                  idCol: String, textCol: String): DataFrame = {
    // materialize the token array in its OWN projection: every
    // element_at inside the bigram lambda references the alias, not a
    // copy of the split+filter tree — inlined, the lambda re-tokenizes
    // the whole document once PER ELEMENT (the lshTopK bucket lesson;
    // measured 5× on ds1)
    val toks = filter(split(lower(col(textCol)), " "),
      t => length(t) > lit(0))
    val t = col("__toks")
    val bis = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1), i =>
        concat(element_at(t, i), lit("_"), element_at(t, i + 1))))
      .otherwise(array())
    docs.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), explode(concat(t, bis)).as("__term"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("__term")), 1, 8), 16, 10).cast("long"),
          lit(nBuckets.toLong)).as("b"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by
    * how target-like its hashed-n-gram profile is, then draw `k`
    * documents WITHOUT replacement, importance-weighted, via the Gumbel
    * top-k trick.
    *
    *  - Features: hashed unigram+bigram counts over `nBuckets` buckets
    *    (the paper's bag-of-hashed-ngrams).
    *  - Both corpora fit add-one-smoothed bucket distributions p
    *    (target) and q (raw); a document's log importance weight is
    *    Σ over its feature occurrences of ln(p_b/q_b).
    *  - Each per-bucket log-ratio is QUANTIZED to integer micro-units
    *    (round(·×1e6) as long) before the per-document sum, so the sum
    *    is order-free and bit-identical in any engine — the float-sum
    *    nondeterminism a parallel reduce would otherwise leak into the
    *    selection order.
    *  - Gumbel key: logw + (−ln(−ln u)) with the content-hash coin u
    *    shifted to (0,1) by +0.5/2³² (keeps both logs finite). Top-k by
    *    (key desc, id) IS importance resampling without replacement
    *    (Efraimidis-Spirakis / Gumbel-max equivalence).
    *
    * Scale: two map-side-combinable bucket aggregations (nBuckets-row
    * bounded collects — the weight table then rides into codegen as
    * ONE literal-array lookup, no join), one per-doc combinable long
    * sum, and a distributed top-k (TakeOrdered — no global sort). Text
    * never shuffles; the widest intermediate is (id, bucket) pairs.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, k: Int,
                 nBuckets: Int = 256, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(k > 0 && nBuckets > 0, "k and nBuckets must be positive")
    // The two bucket distributions COLLECT at build time — nBuckets
    // rows each, bounded by the parameter, the kmeansCentroids
    // discipline — and the weight table becomes one literal array
    // lookup. The alternative (joining the weight frame into the
    // feature stream) re-evaluates the whole explode+hash subtree once
    // per consumer (weights join + two total scalars + the per-doc
    // pass: measured 11.3 s at sf0.1 vs ~2 s with the literal).
    def bucketCountsOf(feats: DataFrame): Map[Long, Long] =
      feats.groupBy("b").agg(count(lit(1)).cast("long").as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r16 OPT (§1.2): the raw side's feature stream feeds BOTH the q
    // histogram collect and the per-doc weight sum — unpersisted, the
    // tokenize + bigram + md5 explode (the dominant per-row work) ran
    // twice per invocation. The stream is (id, bucket) longs — narrow
    // rows — so one cached pass serves both; the histogram collect is
    // the action that fills it. Blocks drop at the session clearCache
    // (the pqTopK discipline). The target side runs once regardless.
    val rawFeats = hashedNgramFeatures(raw, nBuckets, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tc = bucketCountsOf(hashedNgramFeatures(target, nBuckets, idCol, textCol))
    val rc = bucketCountsOf(rawFeats)
    val tTot = tc.values.sum
    val rTot = rc.values.sum
    // add-one smoothing over every bucket; log-ratios quantized to
    // integer micro-units (HALF_UP, matching SQL round semantics)
    val lwArr: Array[Long] = Array.tabulate(nBuckets) { b =>
      val lw = (math.log((tc.getOrElse(b.toLong, 0L) + 1).toDouble
          / (tTot + nBuckets).toDouble)
        - math.log((rc.getOrElse(b.toLong, 0L) + 1).toDouble
          / (rTot + nBuckets).toDouble)) * 1e6
      BigDecimal(lw).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val perDoc = rawFeats
      .withColumn("lw_micro", element_at(lit(lwArr), col("b").cast("int") + 1))
      .groupBy(idCol).agg(sum(col("lw_micro")).as("logw_micro"))
    val u = (conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    raw.join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("logw_micro"))
      .withColumn("logw", col("logw_micro").cast("double") / 1e6)
      .withColumn("gumbel_key",
        col("logw") - log(lit(0.0) - log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }

  /** One-pass weighted sample without replacement (Efraimidis-Spirakis
    * A-ES, 2006): each row draws the key ln(u)/w — order-equivalent to
    * u^(1/w) but with one portable ln instead of a pow — and the k
    * LARGEST keys are the weighted sample. u is the content-hash coin
    * shifted into (0,1); weights must be strictly positive.
    *
    * This is how "sample 10k docs proportional to token count /
    * quality" runs at 100 TB: a narrow per-row key plus a distributed
    * top-k (TakeOrdered), no global sort, no RNG state, reproducible
    * across runs and engines.
    */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    docs
      .withColumn("sample_key", log(u) / col(weightCol).cast("double"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** Differentially-private count release (Dwork et al. 2006): per-key
    * counts with Laplace(1/ε) noise via the inverse CDF,
    * `X = −b·sgn(u−½)·ln(1−2|u−½|)`, the ε-DP mechanism for a
    * sensitivity-1 count query. The noise draw is the repo's standard
    * DETERMINISTIC portable uniform — md5(key:seed) folded to 32 bits,
    * `(v+½)/2³²` strictly inside (0,1) — so releases are reproducible
    * and the oracle re-derives every draw (a production release would
    * swap in a secret seed; `true_n` is emitted HERE for the
    * verification gate only and must not ship alongside a real
    * release).
    *
    * Scale: one combinable count shuffle; noise is a per-key codegen
    * expression.
    */
  /** Calibration / reliability report (Guo et al. 2017's ECE over the
    * classic reliability diagram): probability scores bucketed into
    * `nBuckets` bins, each bin's observed positive rate against its
    * mean predicted probability, plus the expected calibration error
    * `ECE = Σ (n_b/N)·|rate_b − mean_pred_b|` on every row. The eval
    * every score-thresholded keep rule needs before its threshold
    * means anything.
    *
    * Determinism: bin ids are `min(floor(score·nBuckets), nBuckets−1)`
    * integers; per-bin predicted-mass sums micro-quantize per row
    * (exact longs); rates are single divisions; ECE terms
    * pico-quantize before the order-free bin sum.
    *
    * Scale: one combinable nBuckets-ary count shuffle — the bin table
    * is constant-size at any corpus.
    */
  def calibrationReport(scored: DataFrame, scoreCol: String, labelCol: String,
                        nBuckets: Int = 10): DataFrame = {
    val b = least(floor(col(scoreCol) * nBuckets), lit(nBuckets - 1L))
      .cast("int").as("bucket")
    val bins = scored.select(b, col(scoreCol).as("__s"),
        col(labelCol).cast("long").as("__y"))
      .withColumn("__sq", floor(col("__s") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("long").as("n_pos"),
        sum(col("__sq")).cast("long").as("pred_micro"))
      .persist()
    val nTot = bins.agg(sum("n").cast("long").as("n_total"))
    val withRates = bins.crossJoin(broadcast(nTot))
      .withColumn("rate", col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("mean_pred",
        col("pred_micro").cast("double") / col("n").cast("double") / 1e6)
      .withColumn("ece_pico", floor(
        col("n").cast("double") / col("n_total").cast("double") *
          abs(col("rate") - col("mean_pred")) * lit(1e12) + lit(0.5)).cast("long"))
      .persist()
    val ece = withRates.agg(
      (sum("ece_pico").cast("double") / 1e12).as("__ece"))
    val out = withRates.crossJoin(broadcast(ece))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("rate"), 9).as("rate"),
        round(col("mean_pred"), 9).as("mean_pred"),
        round(col("__ece"), 9).as("ece"))
    // two lazy constant-size cache entries (bins, withRates) shared by
    // the total/ECE passes; the harness's per-query clearCache()
    // releases them. Eager localCheckpoint(true) re-bucketed the corpus
    // on every plan build (r10 verdict: cal1 4.5×).
    out
  }

  /** Isotonic calibration of a probability score (pool-adjacent-
    * violators à la Zadrozny & Elkan KDD'02; sklearn's
    * IsotonicRegression) over the reliability bins — the fitter that
    * turns [[calibrationReport]]'s diagnosis into a monotone corrected
    * score. Rather than the sequential pooling loop, the fitted value
    * uses the closed MINIMAX form `iso_b = max_{j≤b} min_{k≥b}
    * mean(y_j..y_k)` (Robertson–Wright–Dykstra 1988, Thm 1.4.4), which
    * is pure relational algebra over the bin prefix sums — no
    * iteration, no data-dependent loop an oracle can't replay.
    *
    * Determinism: segment means micro-quantize as `(Σpos)·10⁶ div
    * (Σn)` exact integer divisions BEFORE the min/max lattice, so
    * every comparison is a long compare in both engines.
    *
    * Scale: one combinable nBuckets-ary count shuffle over the corpus;
    * the minimax lattice is nBuckets³-bounded rows (≤1000 at the
    * default 10) — constant at any corpus size.
    */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
                          labelCol: String, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = least(floor(col(scoreCol) * nBuckets), lit(nBuckets - 1L))
      .cast("int").as("bucket")
    val bins = scored.select(b, col(labelCol).cast("long").as("__y"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("long").as("n_pos"))
      .persist()
    val wOrd = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = bins
      .withColumn("cp", sum("n_pos").over(wOrd).cast("long"))
      .withColumn("cn", sum("n").over(wOrd).cast("long"))
    val cj = c.select(col("bucket").as("j"),
      (col("cp") - col("n_pos")).as("cpj"), (col("cn") - col("n")).as("cnj"))
    val ck = c.select(col("bucket").as("k"),
      col("cp").as("cpk"), col("cn").as("cnk"))
    val r = cj.join(ck, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(cpk - cpj) * 1000000 div (cnk - cnj)").as("rm"))
    val t1 = bins.select(col("bucket").as("b"))
      .join(r, col("j") <= col("b") && col("k") >= col("b"))
      .groupBy("b", "j").agg(min("rm").as("mn"))
    val iso = t1.groupBy("b").agg(max("mn").cast("long").as("iso_micro"))
    bins.join(iso, bins("bucket") === iso("b"))
      .select(col("bucket"), col("n"), col("n_pos"), col("iso_micro"),
        round(col("iso_micro").cast("double") / 1e6, 6).as("iso_rate"))
  }

  /** Length-profile rejection sampling: thin each source's documents
    * so every source matches the POOLED length distribution — the
    * curation step that stops a long-doc-heavy source from dominating
    * token mass when the mixture recipe is written in documents. Docs
    * bucket by power-of-two length (an INTEGER comparison ladder over
    * literal thresholds — no float log2, whose last-ulp could disagree
    * across engines at exact powers of two); source s keeps bucket b
    * at rate min(1, pooled_share_b / source_share_sb), decided by the
    * seedless md5 content coin (the [[temperatureResample]] coin — the
    * same doc keeps its fate under re-curation).
    *
    * Scale: two map-side-combinable count aggregates (buckets and
    * sources×buckets cells), a broadcast rate table, one codegen coin
    * — the corpus never shuffles.
    */
  def lengthMatchSample(docs: DataFrame, stratumCol: String = "source",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // the coin and bucket ride `base` from the start: the rates table
    // below is derived FROM base, so a post-join column referencing
    // textCol would hit self-join lineage ambiguity. The length bucket
    // is the BIT LENGTH of the char count via bin() — an exact string
    // operation both engines implement identically (no float log2
    // whose last ulp could flip a power-of-two boundary, and no
    // HOF-captured outer attribute, which Spark's column pruning
    // mis-binds here: INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
    val coin = conv(substring(md5(col(textCol)), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    val base = docs
      .withColumn("__u", coin)
      .withColumn("__b", length(bin(length(col(textCol)).cast("long"))).cast("int"))
    val byBucket = base.groupBy(col("__b"))
      .agg(count(lit(1)).cast("long").as("__nb"))
    val bySrcBucket = base.groupBy(col(stratumCol), col("__b"))
      .agg(count(lit(1)).cast("long").as("__nsb"))
    val bySrc = base.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("long").as("__ns"))
    val total = base.agg(count(lit(1)).cast("long").as("__n"))
    val rates = bySrcBucket.join(byBucket, "__b").join(bySrc, stratumCol)
      .crossJoin(broadcast(total))
      .withColumn("rate", least(lit(1.0),
        col("__nb").cast("double") * col("__ns").cast("double") /
          (col("__n").cast("double") * col("__nsb").cast("double"))))
      .select(col(stratumCol), col("__b"), col("__nsb"), col("rate"))
    base.join(broadcast(rates), Seq(stratumCol, "__b"))
      .groupBy(col(stratumCol), col("__b").as("bucket"))
      .agg(first(col("__nsb")).as("n_docs"),
        sum(when(col("__u") < col("rate"), 1L).otherwise(0L)).as("n_accept"),
        first(col("rate")).as("rate"))
  }

  /** Quantile normalization across groups (the Bolstad 2003
    * batch-effect correction, applied to corpus curation: each
    * source's score distribution maps onto the POOLED distribution, so
    * a source whose quality scorer runs hot no longer dominates a
    * score-thresholded keep rule). Each row's within-group percent
    * rank is mapped to the pooled order statistic at the same
    * quantile.
    *
    * Determinism: ranks are integers from total orders; the pooled
    * index is `floor(q·(N−1) + ½)` on identically-derived doubles;
    * the normalized value is an EXISTING pooled value, not an
    * interpolation.
    *
    * Scale: one window per group partition (keys partition the sort),
    * the pooled ranking is [[Stats.globalRank]] (range sort +
    * zipWithIndex, no single-reducer window), and the final lookup is
    * an integer equi-join against the pooled rank table.
    */
  def quantileNormalize(df: DataFrame, valueCol: String, groupCol: String,
                        idCol: String): DataFrame = {
    val ws = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    val wn = Window.partitionBy(col(groupCol))
    val n = df.count()
    require(n > 0, "empty input")
    val ranked = df
      .withColumn("__r", row_number().over(ws).cast("long") - 1)
      .withColumn("__n", count(lit(1)).over(wn).cast("long"))
      .withColumn("__q", when(col("__n") > 1,
        col("__r").cast("double") / (col("__n") - 1).cast("double"))
        .otherwise(lit(0.5)))
      .withColumn("__pidx",
        floor(col("__q") * lit((n - 1).toDouble) + lit(0.5)).cast("long"))
    val pooled = graft.ops.Stats.globalRank(
        df.select(col(valueCol).as("__v"), col(idCol).as("__tb")),
        col("__v").asc, col("__tb").asc)
      .select(col("idx").as("__pidx"), col("__v").as("norm_value"))
    ranked.join(pooled, Seq("__pidx"))
      .select(col(idCol), col(groupCol), col(valueCol),
        col("norm_value"))
  }

  def dpCountRelease(df: DataFrame, keyCol: String, epsilon: Double = 1.0,
                     seed: String = "dp1"): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).cast("long").as("true_n"))
    val u = (conv(substring(md5(concat(col("key").cast("string"),
        lit(":" + seed))), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    val centered = u - 0.5
    val noise = -signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)) /
      lit(epsilon)
    counts
      .withColumn("noisy_n", round(col("true_n").cast("double") + noise, 6))
      .withColumn("epsilon", lit(epsilon))
  }

  /** l-diversity and t-closeness per equivalence class (Machanavajjhala
    * et al., ICDE'06; Li et al., ICDE'07) — the two refinements of
    * [[kAnonymityReport]]'s k: a class can be large yet leak its
    * sensitive attribute if the attribute barely varies (l-diversity)
    * or if its distribution diverges from the table's (t-closeness,
    * skewness attack). Per quasi-identifier class:
    *   - `l_distinct` — distinct sensitive values (distinct
    *     l-diversity);
    *   - `entropy_l_micro` — exp(H) of the class's sensitive
    *     distribution (entropy l-diversity: the class is entropy-l
    *     diverse iff exp(H) ≥ l);
    *   - `t_tv_micro` — total-variation distance to the GLOBAL
    *     sensitive distribution (the categorical EMD under unit
    *     ground distance — the standard t-closeness instantiation for
    *     unordered attributes).
    *
    * Determinism: entropy terms pico-quantize per (class, value)
    * before the order-free sum (the js1 discipline); TV is computed
    * as exact integers: `Σ_c |n_gc·N − N_c·n_g| · 10⁶ div (2·n_g·N)`
    * over the full class×value grid (absent cells contribute
    * `N_c·n_g`), all in decimal(38,0).
    *
    * Scale: one combinable (QI, sensitive) cell shuffle; the grid join
    * is classes×values-bounded, never row-bounded.
    */
  def lDiversityReport(df: DataFrame, qiCols: Seq[String],
                       sensitiveCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val qi = qiCols.map(col)
    val cells = df.groupBy(qi :+ col(sensitiveCol).cast("string").as("__s"): _*)
      .agg(count(lit(1)).cast("long").as("n_gc"))
    val groups = cells.groupBy(qi: _*)
      .agg(sum("n_gc").cast("long").as("n_g"),
        count(lit(1)).cast("long").as("l_distinct"))
    val global = cells.groupBy("__s").agg(sum("n_gc").cast("long").as("n_c"))
    val tot = global.agg(sum("n_c").cast("long").as("n_total"))
    // full grid: every class × every global sensitive value (bounded
    // classes×values cartesian — the sensitive domain is small by
    // definition of the attack model)
    val grid = groups.crossJoin(global.crossJoin(broadcast(tot)))
      .join(cells, qiCols :+ "__s", "left")
      .withColumn("n_gc", coalesce(col("n_gc"), lit(0L)))
    val per = grid.select(qi ++ Seq(col("n_g"), col("l_distinct"),
        // |n_gc·N − N_c·n_g| — exact decimal
        abs(dec(col("n_gc")) * dec(col("n_total")) -
          dec(col("n_c")) * dec(col("n_g"))).as("tv_num"),
        when(col("n_gc") > 0L,
          floor(-(col("n_gc").cast("double") / col("n_g").cast("double")) *
            log(col("n_gc").cast("double") / col("n_g").cast("double")) *
            lit(1e12) + lit(0.5)).cast("long")).otherwise(lit(0L))
          .as("h_pico"),
        col("n_total")): _*)
      .groupBy(qi ++ Seq(col("n_g"), col("l_distinct"), col("n_total")): _*)
      .agg(sum("tv_num").as("tv_sum"),
        sum(col("h_pico").cast("decimal(38,0)")).as("h_sum"))
    per.select(qi ++ Seq(col("n_g"), col("l_distinct"),
      floor(exp(col("h_sum").cast("double") / lit(1e12)) * lit(1e6) +
        lit(0.5)).cast("long").as("entropy_l_micro"),
      expr("""CAST((tv_sum * 1000000) div
             |  (CAST(2 AS DECIMAL(38,0)) * n_g * n_total) AS BIGINT)"""
        .stripMargin).as("t_tv_micro")): _*)
  }

  /** SSL-prototype data pruning (Sorscher et al., NeurIPS'22 "Beyond
    * neural scaling laws: beating power law scaling via data pruning"):
    * assign every embedding to its nearest prototype (a k-means
    * centroid), score each example by its cosine to the OWN prototype
    * — high cosine = prototypical/easy, low = hard — and, in the
    * data-abundant regime the paper establishes, drop the EASIEST
    * `dropMicro`/1e6 fraction PER CLUSTER (per-cluster, not global, so
    * no cluster is wiped out by a tight neighbor). The embedding-only
    * pruning rule — no training signal needed — that beats random
    * subsetting; the complement of [[graft.ops.Dedup.semanticDedup]]
    * (which drops near-DUPLICATES, not easy examples).
    *
    * Determinism: assignment is the [[graft.ops.Similarity.ivfTopK]]
    * cosine-argmax over plan-time centroid literals (ties to the
    * larger cell id); prototypicality nano-quantizes BEFORE ranking,
    * so the per-cell drop line is an integer total order
    * (s_nano desc, vec_id asc); drop counts are exact floor shares.
    *
    * Scale: one narrow assignment pass (k in-row folds per vector), a
    * per-cell window whose width is cell occupancy, a cells-bounded
    * rollup. No pairwise anything — prototypes make pruning linear
    * where per-pair dedup is quadratic.
    */
  def prototypePruning(vecs: DataFrame,
                       centroids: Seq[Similarity.Centroid],
                       dropMicro: Long = 250000L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "need centroids")
    require(dropMicro >= 0L && dropMicro < 1000000L, "dropMicro in [0, 1e6)")
    val vd = col(vecCol).cast("array<double>")
    val cellStructs = array(centroids.map { c =>
      val vlit = typedlit(c.vec.toIndexedSeq)
      struct((Similarity.dot(vlit, vd) / lit(c.norm)).as("c_sim"),
        lit(c.id).as("c_id"))
    }: _*)
    val assigned = vecs.select(col(idCol).cast("long").as("id"),
        array_max(cellStructs).as("best"),
        Similarity.norm(vd).as("vn"))
      .select(col("id"), col("best.c_id").as("cell"),
        when(col("vn") === lit(0.0), lit(0L))
          .otherwise(floor(col("best.c_sim") / col("vn") * lit(1e9) +
            lit(0.5)).cast("long")).as("s_nano"))
    val w = Window.partitionBy("cell")
      .orderBy(col("s_nano").desc, col("id").asc)
    val marked = assigned
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cell")).cast("long"))
      .withColumn("dropped",
        (col("r") <= expr(s"(n * ${dropMicro}L) div 1000000L")).cast("int"))
    marked.groupBy("cell")
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum(col("dropped").cast("long")).cast("long").as("n_dropped"),
        sum(when(col("dropped") === 1, col("s_nano"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("sd"),
        sum(when(col("dropped") === 0, col("s_nano"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("sk"))
      .select(col("cell"), col("n_members"), col("n_dropped"),
        (col("n_members") - col("n_dropped")).as("n_kept"),
        expr("CAST(CASE WHEN n_dropped = 0 THEN 0 ELSE sd div n_dropped END AS BIGINT)")
          .as("mean_drop_nano"),
        expr("""CAST(CASE WHEN n_members = n_dropped THEN 0
               |  ELSE sk div (n_members - n_dropped) END AS BIGINT)""".stripMargin)
          .as("mean_kept_nano"))
  }

  /** Leave-one-out source valuation: for each source, the corpus mean
    * quality WITH and WITHOUT it — the additive-metric special case
    * where leave-one-out equals the Shapley value exactly, making
    * "which sources help?" a one-pass exact computation instead of a
    * retraining study. A NEGATIVE delta means removing the source
    * would lower corpus quality (the source is valuable); positive
    * means the corpus improves without it (an ablation candidate).
    *
    * Determinism: per-doc quality micro-quantizes before exact
    * integer sums; every mean is one truncating integer division.
    *
    * Scale: ONE combinable (source) shuffle carrying two integer
    * sums; the leave-one-out table is sources-bounded arithmetic on
    * broadcast totals. No per-source corpus re-pass — the additivity
    * is the whole point.
    */
  def sourceAblation(docs: DataFrame, groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = graft.ops.Text.withQuality(docs, textCol)
      .select(col(groupCol).as("grp"),
        floor(col("quality_score") * lit(1e6) + lit(0.5)).cast("long")
          .as("q_micro"))
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(dec(col("q_micro"))).as("sq"))
    val tot = per.agg(sum("n_docs").cast("long").as("nn"),
      sum(col("sq")).as("ss"))
    per.crossJoin(broadcast(tot))
      .select(col("grp").as("source"), col("n_docs"),
        expr("CAST(sq div n_docs AS BIGINT)").as("mean_q_micro"),
        expr("CAST(ss div nn AS BIGINT)").as("corpus_mean_micro"),
        when(col("nn") === col("n_docs"), lit(0L)).otherwise(
          expr("CAST((ss - sq) div (nn - n_docs) AS BIGINT)"))
          .as("mean_without_micro"),
        when(col("nn") === col("n_docs"), lit(0L)).otherwise(
          expr("CAST((ss - sq) div (nn - n_docs) AS BIGINT) - " +
            "CAST(ss div nn AS BIGINT)")).as("loo_delta_micro"))
  }

  /** Cross-document attention waste of a packed-sequence layout: when
    * documents concatenate into fixed-budget bins WITHOUT attention
    * masking, a fraction of every causal attention pair crosses a
    * document boundary — wasted (and contaminating) compute. Per
    * shard: `waste = Σ_bins [C(L,2) − Σ_docs C(l,2)] / Σ_bins C(L,2)`
    * over the [[packTokenBudget]] assignment — the number that decides
    * whether the trainer needs block-diagonal masks.
    *
    * Determinism: pure integer pair counts (C(x,2) halves the even
    * factor first) and one truncating micro division.
    *
    * Scale: rides the packTokenBudget window (one per-shard
    * offset pass) + a (shard, bin) rollup — nothing beyond cur12's
    * cost.
    */
  def packAttentionWaste(docs: DataFrame, budget: Int, shardCol: String,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    def c2(cn: String): Column = expr(
      s"""CASE WHEN $cn % 2 = 0
         |  THEN CAST($cn div 2 AS DECIMAL(38,0)) *
         |    CAST($cn - 1 AS DECIMAL(38,0))
         |  ELSE CAST($cn AS DECIMAL(38,0)) *
         |    CAST(($cn - 1) div 2 AS DECIMAL(38,0))
         |END""".stripMargin)
    packTokenBudget(docs, budget, shardCol, idCol, textCol)
      .groupBy(col(shardCol).as("shard"), col("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("ll"),
        sum(c2("n_tokens")).as("within"))
      .groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_bins"),
        sum("n_docs").cast("long").as("n_docs"),
        sum(c2("ll")).as("total_pairs"),
        sum(col("within")).as("within_pairs"))
      .select(col("shard"), col("n_bins"), col("n_docs"),
        expr("CAST(total_pairs AS BIGINT)").as("total_pairs"),
        expr("CAST(total_pairs - within_pairs AS BIGINT)")
          .as("cross_pairs"),
        when(col("total_pairs") === 0, lit(0L)).otherwise(
          expr("CAST(((total_pairs - within_pairs) * 1000000) " +
            "div total_pairs AS BIGINT)")).as("waste_micro"))
  }

  /** Exponential-tilt domain reweighting — the static-loss special
    * case of DoReMi (Xie et al., NeurIPS'23): given a per-domain
    * excess-loss signal, the exponentiated-gradient trajectory with
    * fixed losses collapses to one closed-form tilt
    * `w_i ∝ share_i · exp(η · excess_i)` over the baseline token
    * shares — upweight the domains the proxy finds hardest. Here the
    * loss proxy is the corpus quality deficit (1 − mean
    * [[graft.ops.Text.withQuality]] score per source), so the tilt
    * shifts sampling mass toward under-curated sources; swap in a
    * held-out LM loss per domain for the full DoReMi setup.
    *
    * Determinism: per-doc quality micro-quantizes before the exact
    * per-source integer mean; the single exp per domain is a
    * fixed-form double on an exact integer argument, pico-quantized;
    * shares and the normalized weights are exact integer divisions of
    * decimal sums.
    *
    * Scale: one combinable (source) shuffle carrying three integer
    * sums; everything after lives on the domains-bounded table. The
    * tilt is one row of arithmetic per domain — no iteration, no
    * corpus re-pass.
    */
  def domainReweight(docs: DataFrame, eta: Double = 2.0,
                     groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = graft.ops.Text.withQuality(docs, textCol)
      .select(col(groupCol).as("grp"),
        floor(col("quality_score") * lit(1e6) + lit(0.5)).cast("long")
          .as("q_micro"),
        size(split(lower(col(textCol)), " ")).cast("long").as("n_tok"))
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(dec(col("q_micro"))).as("sq"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .select(col("grp"), col("n_docs"), col("n_tokens"),
        (lit(1000000L) - expr("CAST(sq div n_docs AS BIGINT)"))
          .as("loss_micro"))
    val floorRef = per.agg(min("loss_micro").cast("long").as("min_loss"),
      sum(dec(col("n_tokens"))).as("tt"))
    val tilted = per.crossJoin(broadcast(floorRef))
      .withColumn("share_micro",
        expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div tt " +
          "AS BIGINT)"))
      .withColumn("excess_micro", col("loss_micro") - col("min_loss"))
      .withColumn("tilt_pico", floor(
        exp(col("excess_micro").cast("double") / lit(1e6) * lit(eta)) *
          lit(1e12) + lit(0.5)).cast("long"))
      .withColumn("w_raw", dec(col("share_micro")) * dec(col("tilt_pico")))
    val z = tilted.agg(sum(col("w_raw")).as("zz"))
    tilted.crossJoin(broadcast(z))
      .select(col("grp").as("source"), col("n_docs"), col("n_tokens"),
        col("share_micro"), col("loss_micro"), col("excess_micro"),
        expr("CAST((w_raw * 1000000) div zz AS BIGINT)").as("weight_micro"))
  }
}
