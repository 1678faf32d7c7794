package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus search / ranking operators: BM25 keyword retrieval and exact
  * heavy-hitter token statistics. Like the rest of the text suite these
  * are pure column expressions whose float arithmetic is derived from
  * exact integer aggregates in a fixed evaluation order, so every score
  * is bit-reproducible by the SQL oracle.
  */
object Search {

  /** BM25 (Robertson/Spärck Jones, the Okapi k1/b form) document
    * scoring for a FIXED term list — the retrieval primitive behind
    * corpus QA spot-checks ("show me the docs about X") and
    * quality-by-query auditing.
    *
    * Determinism design: every float feeds from exact integers —
    * `tf` is an in-row token count, `df`/`N`/`Σdl` are integer
    * aggregates — and the per-term partial scores are added in the
    * term-list order, so Spark and the oracle evaluate the identical
    * expression tree. No per-row double is ever summed across rows
    * (cross-row float summation order is engine-dependent — the one
    * thing that would break hash equality).
    *
    * Scale: one broadcast one-row stats table (N, Σdl, per-term df —
    * df via map-side-combinable conditional sums); scoring is then a
    * narrow codegen'd map over the corpus. The term list is a handful
    * of literals, so tf computation stays in-row — no explode, no
    * inverted index, no shuffle of text.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tt = Dedup.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(tt, x => x === t)).cast("long").as(s"tf_$i")
    }
    val base = docs.select(
      (col(idCol) +: size(tt).cast("long").as("dl") +: tfCols): _*)
    val statCols = sum(col("dl")).as("sum_dl") +: terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"), statCols: _*)
    val scored = base.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i").cast("double")
      val idf = log((col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    }.reduce(_ + _) // left fold in term order — same order as the oracle
    scored.withColumn("score", score)
      .filter(col("score") > 0)
      .select(col(idCol) +: col("dl") +:
        terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty, SIGIR'01) — the language-modeling baseline beside
    * [[bm25]]: score(d) = Σ_q ln((tf_q + μ·cf_q/|C|) / (dl + μ)),
    * the probability the document's smoothed unigram LM generates the
    * query. The standard second opinion when BM25's idf saturation
    * misranks long documents.
    *
    * Determinism: identical discipline to [[bm25]] — tf in-row,
    * cf/|C| exact integer aggregates on one broadcast stats row,
    * per-term ln partials added in TERM-LIST order, never a cross-row
    * float sum. Docs with no query term at all are dropped (their
    * score is pure background noise).
    *
    * Scale: one broadcast stats row + a narrow codegen'd map over the
    * corpus — no explode, no shuffle of text.
    */
  def queryLikelihood(docs: DataFrame, terms: Seq[String],
                      mu: Double = 2000.0,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tt = Dedup.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(tt, x => x === t)).cast("long").as(s"tf_$i")
    }
    val base = docs.select(
      (col(idCol) +: size(tt).cast("long").as("dl") +: tfCols): _*)
    val statCols = sum(col("dl")).cast("long").as("c_tokens") +:
      terms.indices.map(i => sum(col(s"tf_$i")).cast("long").as(s"cf_$i"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"), statCols: _*)
    val scored = base.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val cf = col(s"cf_$i").cast("double")
      log((tf + lit(mu) * (cf / col("c_tokens").cast("double"))) /
        (col("dl").cast("double") + lit(mu)))
    }.reduce(_ + _) // left fold in term order — same order as the oracle
    scored
      .filter(terms.indices.map(i => col(s"tf_$i") > 0L).reduce(_ || _))
      .withColumn("score_nano",
        floor(score * lit(1e9) + lit(0.5)).cast("long"))
      .select(col(idCol) +: col("dl") +:
        terms.indices.map(i => col(s"tf_$i")) :+ col("score_nano"): _*)
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    * 2009): the sparse BM25 leg and a dense cosine leg each produce
    * their top-`candidateK` candidates, and a document's fused score is
    * `1/(rrfK + sparse_rank) + 1/(rrfK + dense_rank)` (absent legs
    * contribute nothing). The standard retrieval front-end of a
    * RAG / training-data curation stack, where neither keyword nor
    * embedding recall alone is trusted.
    *
    * Determinism: both leg ranks are integers from total orders
    * (score desc, id asc), and the fused score is a two-term sum of
    * exact reciprocals in a fixed leg order — bit-reproducible by the
    * SQL oracle like the rest of this file.
    *
    * Scale: each leg's candidate list is `orderBy(...).limit(n)` —
    * Spark plans that as TakeOrderedAndProject (per-partition top-n,
    * then a driver-side merge of n-row heaps), NOT a global sort
    * shuffle, so the corpus-wide ranking never materializes. The BM25
    * leg scores in-row off one broadcast stats row; the dense leg
    * scores in-row against ONE broadcast query vector. Fusion then
    * joins two ≤candidateK-row lists — driver-scale regardless of
    * corpus size.
    */
  def hybridRetrieve(docs: DataFrame, embeddings: DataFrame,
                     terms: Seq[String], queryVecId: Long,
                     k: Int = 10, candidateK: Int = 50, rrfK: Int = 60,
                     k1: Double = 1.2, b: Double = 0.75,
                     textCol: String = "text", idCol: String = "doc_id",
                     vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k <= 2 * candidateK,
      "k exceeds the largest possible fused list (the union of both legs)")
    val wSparse = Window.orderBy(col("score").desc, col("id").asc)
    val sparse = bm25(docs, terms, k1, b, textCol, idCol)
      .select(col(idCol).as("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc).limit(candidateK)
      .withColumn("rank_sparse", row_number().over(wSparse).cast("long"))
      .select("id", "rank_sparse")
    val q = embeddings.filter(col(vecIdCol) === queryVecId)
      .select(col(vecCol).as("q_vec"))
    val wDense = Window.orderBy(col("sim").desc, col("id").asc)
    val dense = embeddings.filter(col(vecIdCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("sim", Similarity.dot(col(vecCol), col("q_vec")) /
        (Similarity.norm(col(vecCol)) * Similarity.norm(col("q_vec"))))
      .select(col(vecIdCol).as("id"), col("sim"))
      .orderBy(col("sim").desc, col("id").asc).limit(candidateK)
      .withColumn("rank_dense", row_number().over(wDense).cast("long"))
      .select("id", "rank_dense")
    val wFused = Window.orderBy(col("rrf_score").desc, col("id").asc)
    sparse.join(dense, Seq("id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("rank_sparse").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("rank_dense").cast("double")), lit(0.0)))
      .withColumn("rank", row_number().over(wFused).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("rank"), col("rank_sparse"),
        col("rank_dense"), col("rrf_score"))
  }

  /** Exact corpus heavy hitters: every token whose relative frequency
    * is ≥ `minShare` of all token occurrences. The exact counterpart of
    * sketch-based frequent-item mining — at 100 TB the token→count
    * aggregate is map-side-combinable (the combine collapses each
    * partition to its local vocabulary before the exchange), and the
    * scalar total broadcasts, so the only wide stage carries
    * (token, count) pairs for the distinct vocabulary.
    */
  def heavyHitters(docs: DataFrame, minShare: Double = 0.001,
                   textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(Dedup.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).cast("long").as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("cnt").cast("double") / col("__total").cast("double"))
      .filter(col("share") >= minShare)
      .drop("__total")
  }

  /** Count-min-sketch heavy hitters: the sub-linear-memory counterpart
    * of [[heavyHitters]] for streams / cardinalities where an exact
    * token→count table no longer fits. The sketch is O(1/eps × ln(1/δ))
    * cells regardless of vocabulary size, never under-counts, and
    * over-counts by at most eps × N (N = total tokens) with
    * probability ≥ δ.
    *
    * This operator returns the top-`k` EXACT counts joined with the
    * sketch's two laws as columns — `over_ok` (estimate ≥ exact, holds
    * always) and `bound_ok` (estimate ≤ exact + eps × N, holds w.p. δ
    * but deterministically for a fixed seed) — so sketch-accuracy
    * regressions surface as flipped booleans in an oracle-checkable
    * row, the same pattern as the HLL/percentile and ANN-recall gates.
    *
    * Scale: one combinable count shuffle for the exact side (the
    * baseline being verified), one `stat.countMinSketch` pass for the
    * sketch (tree-aggregated, driver holds only the O(cells) sketch),
    * and per-row probes through a broadcast of the sketch.
    */
  def heavyHittersCms(docs: DataFrame, k: Int = 20, eps: Double = 0.0005,
                      confidence: Double = 0.99, seed: Int = 42,
                      textCol: String = "text"): DataFrame = {
    val toks = docs.select(explode(Dedup.tokens(col(textCol))).as("tok"))
    val cms = toks.stat.countMinSketch("tok", eps, confidence, seed)
    val totalN = cms.totalCount()
    // native codegen probe: the serialized sketch rides the plan as a
    // binary literal, deserialized once per task — no ScalaUDF node in
    // the hot path (PlanSpec asserts). Broadcast+UDF remains the
    // fallback on sessions built without GraftExtensions.
    val est: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (graft.functions.GraftExtensions.available("cms_estimate")) {
        val bos = new java.io.ByteArrayOutputStream()
        cms.writeTo(bos)
        val bytes = bos.toByteArray
        t => call_function("cms_estimate", lit(bytes), t)
      } else {
        val bc = docs.sparkSession.sparkContext.broadcast(cms)
        val u = udf((t: String) => bc.value.estimateCount(t))
        t => u(t)
      }
    toks.groupBy("tok").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
      .withColumn("__est", est(col("tok")))
      .select(col("tok"), col("cnt"),
        (col("__est") >= col("cnt")).as("over_ok"),
        (col("__est") <= col("cnt") + lit(math.ceil(eps * totalN).toLong)).as("bound_ok"))
  }

  /** Inverted-index build: term → document frequency + the first
    * `postingCap` doc ids (ascending) as the posting-list head, for
    * terms appearing in at least `minDf` documents. The classic batch
    * index-build job (one MapReduce-era benchmark, still the shape
    * behind BM25 serving tiers).
    *
    * Scale: explode emits (term, doc_id) pairs — the only wide data is
    * that pair stream, never text. `collect_set` partially aggregates
    * map-side, and the posting cap bounds the reducer-side state per
    * term: stop-word terms cost O(docs-per-partition) in the partial
    * sets, which at 100 TB argues for a `minDf`/stop-list pre-filter or
    * a two-level (term, doc-range) composite key; both compose with
    * this operator unchanged.
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 2, postingCap: Int = 20,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), explode(array_distinct(Dedup.tokens(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        slice(sort_array(collect_set(col(idCol))), 1, postingCap).as("__p"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"),
        array_join(col("__p"), ",").as("postings_head"))

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft
    * SIGIR'01 relevance models, in the RM3 form benchmarked by
    * Abdul-Jaleel et al., TREC 2004): run the seed query, take the top
    * `fbDocs` documents as the pseudo-relevant set, estimate the
    * relevance model P(w|R) ∝ Σ_d score_d · tf(w,d)/|d| over that set,
    * and emit the top `expandTerms` NEW terms (seed terms excluded)
    * with their weights — the classic recall-widening step in front of
    * a second retrieval pass.
    *
    * Determinism: each (doc, term) contribution quantizes to integer
    * micro-units BEFORE the cross-document sum (score_d is the bm25
    * double both engines already reproduce bit-for-bit — bm1's proof;
    * tf/|d| is a small rational), so every term weight is an
    * order-free long sum and the expansion ranking is a total order
    * over (weight desc, term asc).
    *
    * Scale: the feedback set is `fbDocs` rows by construction
    * (TakeOrdered — no global sort), and only THOSE documents
    * tokenize: after the one bm25 corpus scan, the expansion costs
    * O(fbDocs · doc length) regardless of corpus size.
    */
  def rm3Expansion(docs: DataFrame, terms: Seq[String],
                   fbDocs: Int = 10, expandTerms: Int = 8,
                   k1: Double = 1.2, b: Double = 0.75,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(fbDocs > 0 && expandTerms > 0, "fbDocs and expandTerms must be positive")
    import org.apache.spark.sql.expressions.Window
    val fb = bm25(docs, terms, k1, b, textCol, idCol)
      .select(col(idCol), col("dl"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc).limit(fbDocs)
    val contrib = fb.join(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), col("dl"), col("score"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("dl"), col("score"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("c_micro",
        round(col("score") * col("tf").cast("double")
          / col("dl").cast("double") * 1e6).cast("long"))
    val w = Window.orderBy(col("rm_micro").desc, col("term").asc)
    contrib.filter(!col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("c_micro")).as("rm_micro"))
      .orderBy(col("rm_micro").desc, col("term").asc).limit(expandTerms)
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("rm_weight", col("rm_micro").cast("double") / 1e6)
      .select("rank", "term", "rm_micro", "rm_weight")
  }

  /** The rank-@k discount table nDCG uses: `1/log2(r+1)` for
    * r = 1..k, computed once on the driver so BOTH engines consume the
    * identical double literals (libm-free — no engine ever evaluates a
    * log for the discount).
    */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(r => math.log(2.0) / math.log(r + 1.0))

  /** Retrieval-quality evaluation — nDCG@k, MRR, precision@k and
    * recall@k per query — over a self-labeling benchmark: each query is
    * a single term, its run is the corpus ranked by single-term BM25
    * (score desc, id asc — a total order), and the graded relevance of
    * a document is its capped term frequency `min(tf, maxGrade)` with
    * "relevant" meaning grade ≥ `relThreshold`. The standard eval
    * harness a retrieval/curation stack runs after every index or
    * scorer change.
    *
    * Determinism: ranks are integers from total orders; DCG/IDCG
    * contributions are `(2^grade − 1) · disc[rank]` with the discount
    * a driver-computed literal ([[ndcgDiscounts]]), pico-quantized
    * per row and summed as order-free longs; MRR is one exact
    * reciprocal of an integer rank.
    *
    * Scale: ONE corpus text scan produces all terms' tf columns
    * in-row; the per-term stats reduce in one combinable agg to a
    * single broadcast row. The long (doc, term) table carries only
    * scalars for docs that CONTAIN the term, and the rank-≤-k filters
    * compile to WindowGroupLimit (per-partition top-k heaps, no global
    * sort). Metric assembly joins term-count-sized aggregates.
    */
  def retrievalMetrics(docs: DataFrame, terms: Seq[String], k: Int = 10,
                       relThreshold: Int = 2, maxGrade: Int = 3,
                       k1: Double = 1.2, b: Double = 0.75,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    import org.apache.spark.sql.expressions.Window
    val tt = Dedup.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(tt, x => x === t)).cast("long").as(s"tf_$i")
    }
    val base = docs.select(
      (col(idCol).as("id") +: size(tt).cast("long").as("dl") +: tfCols): _*)
    val statCols = sum(col("dl")).as("sum_dl") +: terms.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"), statCols: _*)
    val long0 = base
      .select(col("id"), col("dl"),
        posexplode(array(terms.indices.map(i => col(s"tf_$i")): _*)).as(Seq("tidx", "tf")))
      .filter(col("tf") > 0)
      .crossJoin(broadcast(stats))
    val termArr = array(terms.map(lit): _*)
    val dfArr = array(terms.indices.map(i => col(s"df_$i")): _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val tf = col("tf").cast("double")
    val dfd = element_at(dfArr, col("tidx") + 1).cast("double")
    val idf = log((col("n_docs").cast("double") - dfd + 0.5) / (dfd + 0.5) + 1.0)
    val score = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)))
    val scored = long0
      .withColumn("term", element_at(termArr, col("tidx") + 1))
      .withColumn("rel", least(col("tf"), lit(maxGrade.toLong)).cast("int"))
      .withColumn("score", score)
      .select("term", "id", "rel", "score").persist()
    val discArr = array(ndcgDiscounts(k).map(lit): _*)
    // graded gain 2^rel − 1 as a literal lookup (libm-free, exact)
    val gainArr = array((0 to maxGrade).map(r => lit(((1L << r) - 1L).toDouble)): _*)
    val gain = element_at(gainArr, col("rel") + 1)
    def dcgPico(rankCol: org.apache.spark.sql.Column) =
      floor(gain * element_at(discArr, rankCol.cast("int")) * lit(1e12) + lit(0.5)).cast("long")
    val wRun = Window.partitionBy("term").orderBy(col("score").desc, col("id").asc)
    val run = scored.withColumn("rk", row_number().over(wRun)).filter(col("rk") <= k)
      .groupBy("term").agg(
        count(lit(1)).cast("long").as("n_retrieved"),
        sum(when(col("rel") >= relThreshold, 1L).otherwise(0L)).cast("long").as("n_rel_at_k"),
        sum(dcgPico(col("rk"))).cast("long").as("dcg_pico"),
        min(when(col("rel") >= relThreshold, col("rk"))).as("first_rel_rank"))
    val wIdeal = Window.partitionBy("term").orderBy(col("rel").desc, col("id").asc)
    val ideal = scored.withColumn("rk", row_number().over(wIdeal)).filter(col("rk") <= k)
      .groupBy("term").agg(sum(dcgPico(col("rk"))).cast("long").as("idcg_pico"))
    val totals = scored.groupBy("term").agg(
      sum(when(col("rel") >= relThreshold, 1L).otherwise(0L)).cast("long").as("n_rel_total"))
    run.join(ideal, "term").join(totals, "term")
      .select(col("term"), col("n_retrieved"), col("n_rel_total"), col("n_rel_at_k"),
        when(col("idcg_pico") > 0L,
          col("dcg_pico").cast("double") / col("idcg_pico").cast("double"))
          .otherwise(lit(0.0)).as("ndcg"),
        when(col("first_rel_rank").isNotNull,
          lit(1.0) / col("first_rel_rank").cast("double")).otherwise(lit(0.0)).as("mrr"),
        (col("n_rel_at_k").cast("double") / lit(k.toDouble)).as("p_at_k"),
        when(col("n_rel_total") > 0L,
          col("n_rel_at_k").cast("double") / col("n_rel_total").cast("double"))
          .otherwise(lit(0.0)).as("r_at_k"))
  }

  /** Exact phrase search over a POSITIONAL inverted index: documents
    * containing the query terms at consecutive token positions, with
    * the occurrence count and first match position — the capability a
    * bag-of-words index ([[bm25]], ix1's unigram postings) cannot
    * express.
    *
    * Scale: the postings explode filters to the phrase's own terms
    * BEFORE anything joins — only (id, pos) pairs for query-term hits
    * survive, a vanishing fraction of the corpus. The phrase then
    * resolves as a chain of EQUI-joins on (id, pos − offset): each
    * join's keys are both integers, no window, no text movement. All
    * outputs are exact integers.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val pos = docs
      .select(col(idCol).as("id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
      .persist()
    val first = pos.filter(col("tok") === phrase.head).select(col("id"), col("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(pos.filter(col("tok") === t)
        .select(col("id"), (col("pos") - i).as("pos")), Seq("id", "pos"))
    }
    matched.groupBy(col("id").as(idCol))
      .agg(count(lit(1)).cast("long").as("n_occurrences"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** Time-decayed top-k heavy hitters: each observation contributes
    * `2^(−age/halflife)` relative to the stream's newest timestamp, so
    * recent activity dominates — the "trending now" ranking plain
    * counts (hh1) cannot express.
    *
    * Determinism: the decay constant is a DRIVER-COMPUTED literal and
    * the anchor timestamp an in-plan scalar aggregate (no wall
    * clock anywhere — rerunning on the same data gives the same
    * ranking); per-event decay terms pico-quantize before the
    * order-free per-key long sum. Top-k is TakeOrdered under the
    * (score desc, key asc) total order.
    *
    * Scale: one broadcast one-row max, one combinable per-key shuffle
    * of (key, long) — identical shape to a plain count.
    */
  def decayedTopK(df: DataFrame, keyCol: String, tsCol: String,
                  halfLifeHours: Double = 24.0, k: Int = 20): DataFrame = {
    val c = -math.log(2.0) / (halfLifeHours * 3600e6) // per microsecond
    val anchor = df.agg(max(unix_micros(col(tsCol))).as("now_us"))
    df.select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"))
      .crossJoin(broadcast(anchor))
      .withColumn("term_pico", floor(
        exp((col("now_us") - col("ts_us")).cast("double") * lit(c)) * lit(1e12) + lit(0.5))
        .cast("long"))
      .groupBy("key")
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("term_pico")).cast("long").as("decayed_pico"))
      .orderBy(col("decayed_pico").desc, col("key").asc).limit(k)
      .withColumn("decayed", round(col("decayed_pico").cast("double") / 1e12, 9))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) over an embedding candidate set — the serving-side
    * diversification step after ANN retrieval: greedily select `m` of
    * each query's `topN` candidates maximizing
    * `λ·cos(q,c) − (1−λ)·max_{s∈S} cos(c,s)`, so near-duplicate hits
    * don't crowd the result page / RAG context window.
    *
    * Execution shape: candidates collapse to ONE in-row list per query
    * (collect_list bounded by topN), and the whole greedy loop is a
    * nested higher-order expression — an `aggregate` over `m` steps
    * whose accumulator is the selected array, an explicit comparator
    * fold for the argmax (ties to the smaller id; no reliance on
    * engine struct-ordering), and in-order `zip_with`/`aggregate`
    * folds for every dot product. Fully codegen'd, no UDF, and every
    * float op has a literal DuckDB mirror — which is what puts a
    * greedy iterative algorithm under the hash gate.
    *
    * Scale: per-query work is O(m·topN·dim) in-row — embarrassingly
    * parallel over queries; candidate generation is the pluggable
    * part (`candidates` takes [[graft.ops.Similarity.lshTopK]] /
    * `ivfTopK` output at corpus scale; the default brute-force top-N
    * is the exact baseline for bounded query batches).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, topN: Int = 16,
                m: Int = 6, lambda: Double = 0.7,
                idCol: String = "vec_id", vecCol: String = "embedding",
                candidates: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && topN >= m, "need 1 <= m <= topN")
    // r16 (§4): every dot here rides Similarity.dot — the native
    // vector_dot when registered (identical ascending accumulation,
    // bit-identical values; HOF fallback otherwise). The greedy loop
    // evaluates dotf m·topN·|selected| times per query, so the fused
    // loop replaces the hottest boxed-lambda walk in the operator.
    def vhat(df: DataFrame, prefix: String): DataFrame = {
      val vd = transform(col(vecCol), x => x.cast("double"))
      df.select(col(idCol).as(s"${prefix}_id"), vd.as("__vd"))
        .select(col(s"${prefix}_id"),
          transform(col("__vd"), x => x / sqrt(Similarity.dot(col("__vd"), col("__vd"))))
            .as(s"${prefix}_vh"))
    }
    val cand = candidates match {
      case Some(c) => c.select("q_id", "n_id")
      case None => Similarity.bruteForceTopK(corpus, queries, topN, idCol, vecCol)
        .select("q_id", "n_id")
    }
    val scored = cand
      .join(vhat(corpus, "n"), "n_id")
      .join(vhat(queries, "q"), "q_id")
      .withColumn("rel", Similarity.dot(col("q_vh"), col("n_vh")))
    // one in-row candidate list per query: (rel desc, id asc) order,
    // truncated to topN (candidates may be wider when caller-supplied)
    val lst = slice(sort_array(collect_list(struct(
      (-col("rel")).as("nr"), col("n_id").as("id"),
      col("rel").as("rel"), col("n_vh").as("vh")))), 1, topN)
    val grouped = scored.groupBy(col("q_id")).agg(lst.as("__cands"))
    val cands = col("__cands")
    def dotf(a: Column, b: Column): Column = Similarity.dot(a, b)
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0 - lambda)
    // typed empty accumulator: slice-to-zero of a cast of the candidate
    // list itself (array() alone is array<null>)
    val accType = transform(cands, c => struct(
      c.getField("id").as("id"), c.getField("vh").as("vh"),
      c.getField("rel").as("rel"), lit(0.0).as("score")))
    val emptyAcc = slice(accType, 1, 0)
    val selected = aggregate(
      sequence(lit(1), lit(m)), emptyAcc,
      (acc, _) => {
        val rem = filter(cands, c => !array_contains(
          transform(acc, a => a.getField("id")), c.getField("id")))
        val remScored = transform(rem, c => {
          val maxSim = when(size(acc) === 0, lit(0.0)).otherwise(
            array_max(transform(acc, a => dotf(a.getField("vh"), c.getField("vh")))))
          struct(c.getField("id").as("id"), c.getField("vh").as("vh"),
            c.getField("rel").as("rel"),
            (lam * c.getField("rel") - oneMinusLam * maxSim).as("score"))
        })
        // NB slice length must stay bounded: start+Int.MaxValue
        // overflows inside Slice and yields an empty array, collapsing
        // the argmax to element 1 (the remaining list is <= topN long)
        val best = aggregate(
          slice(remScored, 2, topN), element_at(remScored, 1),
          (b, x) => when(x.getField("score") > b.getField("score") ||
              (x.getField("score") === b.getField("score") &&
                x.getField("id") < b.getField("id")), x).otherwise(b))
        when(size(rem) === 0, acc).otherwise(concat(acc, array(best)))
      })
    grouped.select(col("q_id"), posexplode(selected).as(Seq("__p", "__s")))
      .select(col("q_id"), (col("__p") + 1).cast("int").as("sel_rank"),
        col("__s").getField("id").as("n_id"),
        round(col("__s").getField("rel"), 6).as("rel"),
        round(col("__s").getField("score"), 6).as("mmr_score"))
  }

  /** Pico-quantized tail weights for truncated RBO: `W(m) = Σ_{d=m..D}
    * (1−p)·p^{d−1}/d` — an item common to both prefixes at joint depth
    * m contributes exactly W(m) to the RBO sum, which turns the
    * per-depth overlap definition into one weight lookup per matched
    * item. Driver-computed here and serialized verbatim into the
    * oracle, so both engines share the identical long literals.
    */
  def rboTailWeights(depth: Int, p: Double): Seq[Long] =
    (1 to depth).map { m =>
      (m to depth).map(d => (1 - p) * math.pow(p, d - 1) / d).sum
    }.map(x => math.floor(x * 1e12 + 0.5).toLong)

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between
    * two top-`depth` rankings per query — the standard top-weighted
    * similarity of two retrieval runs, here the eval that quantifies
    * how much an index change (quantization, truncation, a new ANN
    * config) actually disturbs what users see. Truncated RBO_min: the
    * known-prefix sum with no extrapolation, so the score is exact
    * given the two lists.
    *
    * Inputs carry (qCol, idCol, rankCol) with rank 1..depth. Emits one
    * row per query in `a`: the prefix overlap at `depth` and the RBO
    * score (an exact pico-unit long sum divided once).
    *
    * Scale: the lists are k-bounded per query — the join and rollup
    * shuffle O(queries·depth) id/rank triples, nothing corpus-sized.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, depth: Int = 10,
                        p: Double = 0.9, qCol: String = "q_id",
                        idCol: String = "id",
                        rankCol: String = "rank"): DataFrame = {
    val wLit = typedlit(rboTailWeights(depth, p))
    val joined = a.select(col(qCol), col(idCol), col(rankCol).as("__ra"))
      .join(b.select(col(qCol), col(idCol), col(rankCol).as("__rb")),
        Seq(qCol, idCol))
      .withColumn("__m", greatest(col("__ra"), col("__rb")).cast("int"))
      .groupBy(col(qCol))
      .agg(count(lit(1)).cast("long").as(s"overlap$depth"),
        sum(element_at(wLit, col("__m"))).cast("long").as("__pico"))
    a.select(col(qCol)).distinct()
      .join(joined, Seq(qCol), "left")
      .select(col(qCol),
        coalesce(col(s"overlap$depth"), lit(0L)).as(s"overlap$depth"),
        (coalesce(col("__pico"), lit(0L)).cast("double") / 1e12).as("rbo"))
  }
}
