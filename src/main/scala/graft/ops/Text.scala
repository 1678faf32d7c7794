package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingHash

/** Text-analysis operators for a training-data pipeline: token
  * counting, quality scoring, language ID and document fingerprinting —
  * all pure column expressions (codegen'd, no UDFs) so they fuse into
  * one whole-stage pass over the corpus.
  */
object Text {

  def tokensCol(textCol: Column): Column = split(textCol, " ")

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Quality features + a composite score in [0,1]:
    * punctuation ratio, alpha ratio, stopword ratio, mean word length.
    * All single-division double arithmetic — deterministic and exactly
    * reproducible by the SQL oracle.
    */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokensCol(t)
    val nTok = size(toks).cast("double")
    val punct = length(regexp_replace(t, "[^.!?,;]", "")).cast("double")
    val alpha = length(regexp_replace(t, "[^A-Za-z ]", "")).cast("double")
    val stopHits = size(filter(toks, x => x.isin(stopwords: _*))).cast("double")
    val meanLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / nTok
    docs
      .withColumn("punct_ratio", punct / length(t).cast("double"))
      .withColumn("alpha_ratio", alpha / length(t).cast("double"))
      .withColumn("stopword_ratio", stopHits / nTok)
      .withColumn("mean_word_len", meanLen)
      .withColumn("quality_score",
        least(lit(1.0), col("alpha_ratio") * 0.5
          + col("stopword_ratio") * 0.3
          + least(col("mean_word_len") / lit(10.0), lit(1.0)) * 0.2))
  }

  private def occurrences(t: Column, g: String): Column =
    (length(t) - length(call_function("replace", t, lit(g), lit("")))) / lit(g.length)

  /** Per-document top TF-IDF terms: tokenize, per-doc term frequency,
    * document frequency via one token-level aggregation, smooth-IDF
    * weight, top-k terms per doc by weight.
    *
    * Scale: two shuffles — (doc, token) TF and token DF — both
    * map-side combinable. The TF⋈DF join is deliberately NOT
    * broadcast-hinted: on a web corpus the distinct-token vocabulary is
    * unbounded (typos/URLs/ids — billions of rows), so a forced
    * broadcast is an OOM; both sides already share the `tok` hash
    * partitioning from their aggregations, and AQE still picks a
    * broadcast at runtime when the vocab actually fits.
    */
  def topTfidfTerms(docs: DataFrame, k: Int = 3, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("d"),
      explode(tokensCol(lower(col(textCol)))).as("tok"))
    val tf = tok.groupBy("d", "tok").agg(count(lit(1)).as("tf"))
    val df = tok.select("d", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col("d"))
      .orderBy(col("tfidf").desc, col("tok").asc)
    tf.join(df, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("d"), col("tok"), col("tf"), col("df"), col("tfidf"), col("rk"))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * k-token shingle, slide a window of `w` hashes, keep each window's
    * minimum — the standard local fingerprinting scheme for near-dup /
    * plagiarism detection. Pure higher-order functions over the token
    * array; output is the distinct selected hash set per document.
    *
    * The shingle hash is md5-hex and the window minimum is the
    * lexicographic string min: winnowing only needs a uniform
    * deterministic hash, and md5 (unlike xxhash64) exists identically
    * in every engine — which is what makes this operator fully
    * cross-engine-oracle-checkable rather than rows-only.
    */
  def withWinnowing(docs: DataFrame, k: Int = 4, w: Int = 4,
                    textCol: String = "text"): DataFrame = {
    // Higher-order functions are interpreted (CodegenFallback), and a
    // subtree referenced INSIDE a lambda body is re-evaluated on every
    // element — writing `slice(hashes, i, w)` directly in the windows
    // lambda re-derives hashes→grams→split per window, an O(n²·|text|)
    // per-row blowup. Binding each stage as a LAMBDA VARIABLE via a
    // single-element array (`transform(array(x), v => …)`) evaluates it
    // exactly once per row; inner references are variable lookups.
    val toks = tokensCol(lower(col(textCol)))
    def gramsOf(t: Column): Column =
      when(size(t) < k, array(concat_ws(" ", t)))
        .otherwise(transform(sequence(lit(0), size(t) - k),
          i => concat_ws(" ", slice(t, i + 1, lit(k)))))
    def winsOf(hs: Column): Column =
      when(size(hs) <= w, array(array_min(hs)))
        .otherwise(transform(sequence(lit(0), size(hs) - w),
          i => array_min(slice(hs, i + 1, lit(w)))))
    val wins = flatten(transform(array(toks), t =>
      flatten(transform(array(transform(gramsOf(t), g => md5(g))),
        hs => winsOf(hs)))))
    docs.withColumn("winnow_fp", array_sort(array_distinct(wins)))
  }

  /** Token-distribution Shannon entropy per document — low entropy =
    * templated/repetitive text (a standard quality filter signal
    * alongside [[withRepetition]]).
    *
    * Determinism design: entropy is a sum of doubles, and a sum over
    * rows of a shuffled relation has engine- and partitioning-dependent
    * order. Here the whole computation stays IN-ROW over the sorted
    * token array (sorted tokens → run-length boundaries → counts →
    * entropy fold in array order), so both engines add the same terms
    * in the same sequence — bit-identical, oracle-checkable. Every
    * staged array is bound as a lambda variable (the interpreted-HOF
    * re-evaluation trap), and the i=1 boundary guard uses when() so the
    * out-of-range element_at(st, 0) branch is never evaluated.
    */
  def withTokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sorted = array_sort(tokensCol(lower(col(textCol))))
    val packed = element_at(transform(array(sorted), stt => {
      val n = size(stt)
      val starts = filter(sequence(lit(1), n), i =>
        when(i === 1, lit(true))
          .otherwise(element_at(stt, i) =!= element_at(stt, i - 1)))
      element_at(transform(array(starts), ss => {
        val shifted = concat(slice(ss, lit(2), size(ss)), array(n + 1))
        val counts = zip_with(ss, shifted, (a, b) => b - a)
        val entropy = lit(0.0) - aggregate(counts, lit(0.0), (acc, c) =>
          acc + (c.cast("double") / n.cast("double"))
            * log(c.cast("double") / n.cast("double")))
        struct(n.cast("long").as("n_tokens"),
          size(ss).cast("long").as("n_distinct_tokens"),
          entropy.as("entropy"))
      }), 1)
    }), 1)
    docs.withColumn("__e", packed)
      .withColumn("n_tokens", col("__e.n_tokens"))
      .withColumn("n_distinct_tokens", col("__e.n_distinct_tokens"))
      .withColumn("entropy", col("__e.entropy"))
      .drop("__e")
  }

  /** Corpus-level n-gram NOVELTY per document: the fraction of a doc's
    * DISTINCT n-grams that appear nowhere else in the corpus (df = 1).
    * The diversity telemetry a data-mixing run watches — boilerplate-
    * heavy or template-cloned corpora score near 0, fresh text near 1.
    * Complements [[withRepetition]] (intra-doc) with the cross-doc
    * signal.
    *
    * Scale: in-row shingles collapse to (md5, doc) before the wide
    * stage; df is a combinable count over 16-byte hashes; the novelty
    * join carries ids only. dd9's shuffle profile.
    */
  def withNovelty(docs: DataFrame, n: Int = 3, textCol: String = "text"): DataFrame = {
    val t = tokensCol(lower(col(textCol)))
    val grams = flatten(transform(array(t), tt =>
      when(size(tt) < n, array(concat_ws(" ", tt)))
        .otherwise(transform(sequence(lit(0), size(tt) - n),
          i => concat_ws(" ", slice(tt, i + 1, lit(n)))))))
    // r16 OPT (§2.4): the exploded gram stream feeds BOTH the df count
    // (hash(h) with partial agg) and the join (hash(h) plain) — two
    // different exchanges, so the tokenize + trigram + md5 pass ran
    // twice. One explicit repartition(h) satisfies both consumers:
    // ReuseExchange dedupes it, the pass runs once, and the raw rows
    // shuffle once instead of rows + partials (the lp1 trick).
    val exploded = docs
      .select(col("doc_id"), explode(array_distinct(grams)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
      .repartition(col("h"))
    val df = exploded.groupBy("h").agg(count(lit(1)).cast("long").as("gdf"))
    exploded.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_distinct_grams"),
        sum(when(col("gdf") === 1L, 1L).otherwise(0L)).cast("long").as("n_novel"))
      .withColumn("novelty_ratio",
        col("n_novel").cast("double") / col("n_distinct_grams").cast("double"))
  }

  /** Intra-document repetition signal (the Gopher/MassiveText-style
    * quality filter of Rae et al. 2021): the fraction of n-gram
    * occurrences that are repeats of an earlier n-gram in the same
    * document — `1 − distinct/total`. Heavily templated or looping text
    * scores high and gets filtered before training. Narrow codegen'd
    * map; the n-gram array is bound once as a lambda variable and once
    * as a projection alias, so neither the HOF re-evaluation trap nor
    * the multi-reference tree-copy cost applies.
    */
  /** LM-perplexity quality filtering (the CCNet stage of Wenzek et al.
    * 2020): train a bigram LM with add-one smoothing over the corpus,
    * score every document by its mean bigram negative-log-likelihood,
    * keep documents under the threshold (CCNet keeps the low-perplexity
    * "head"). A real deployment scores against a pretrained 5-gram
    * KenLM; the pipeline SHAPE — train counts, score per doc, gate on
    * the score — is identical, and a bigram table keeps every number
    * an external SQL oracle can recompute.
    *
    * Scale: counts are two map-side-combinable aggregations; the
    * score join keys by (w1, w2) — for a bounded vocabulary the LM
    * table broadcasts and the whole scorer is one narrow pass.
    * Documents with < 2 tokens have no bigrams and are not scored.
    */
  def perplexityFilter(docs: DataFrame, threshold: Double,
                       textCol: String = "text"): DataFrame = {
    val b = docs
      .select(col("doc_id"), split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> " +
          "struct(toks[i] AS w1, toks[i+1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = b.groupBy("w1", "w2").agg(count(lit(1)).cast("double").as("n12"))
    val c1 = c12.groupBy("w1").agg(sum(col("n12")).as("n1"))
    val vocab = c12.agg(countDistinct(col("w2")).cast("double").as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(vocab))
      .withColumn("p", (col("n12") + lit(1.0)) / (col("n1") + col("v")))
      .select("w1", "w2", "p")
    b.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(avg(lit(0.0) - log(col("p"))).as("nll"),
        count(lit(1)).cast("long").as("n_bigrams"))
      .withColumn("lm_keep", col("nll") <= threshold)
  }

  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher/MassiveText rule battery (Rae et al. 2021, §A.1.1):
    * document-level heuristics that gate a page out of the training set.
    * Reference-pipeline analog: the curation stage's quality filters
    * (tx2 scores; this emits the published PASS/FAIL rules verbatim).
    *
    * Rules (keep iff ALL hold):
    *  - word count in [minWords, maxWords]
    *  - mean word length in [3, 10]
    *  - symbol-to-word ratio < 0.1 for both '#' and '...'
    *  - < 90% of lines start with a bullet; < 30% end with '...'
    *  - >= 80% of words contain at least one alphabetic character
    *  - >= 2 distinct words from the 8-stopword indicator set
    *  - duplicate-line fraction < 0.30 (the §A.1.2 repetition gate's
    *    line-level member; n-gram members live in [[withRepetition]])
    *
    * Everything is a single-pass codegen column battery over in-row
    * arrays — integer counts and one-division ratios, so the DuckDB
    * oracle reproduces every boolean bit-exactly. At 100 TB this is a
    * narrow map stage fused into the scan: no shuffle, no state.
    */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = tokensCol(t)
    val nW = size(words)
    val nWd = nW.cast("double")
    val lines = split(t, "\n")
    val nLd = size(lines).cast("double")
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWd
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipses = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("double")
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
    val bulletLines = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double")
    val ellipsisLines = size(filter(lines, l => l.rlike("\\.\\.\\.\\s*$"))).cast("double")
    val stopHits = size(array_distinct(
      filter(words, w => lower(w).isin(gopherStopwords: _*))))
    val dupLineFrac = lit(1.0) - size(array_distinct(lines)).cast("double") / nLd
    docs
      .withColumn("n_words", nW.cast("long"))
      .withColumn("r_word_count", nW.between(minWords, maxWords))
      .withColumn("r_mean_word_len", meanLen.between(3.0, 10.0))
      .withColumn("r_hash_ratio", hashes / nWd < 0.1)
      .withColumn("r_ellipsis_ratio", ellipses / nWd < 0.1)
      .withColumn("r_bullet_lines", bulletLines / nLd < 0.9)
      .withColumn("r_ellipsis_lines", ellipsisLines / nLd < 0.3)
      .withColumn("r_alpha_words", alphaWords / nWd >= 0.8)
      .withColumn("r_stopwords", stopHits >= 2)
      .withColumn("r_dup_lines", dupLineFrac < 0.3)
      .withColumn("gopher_keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_hash_ratio") &&
          col("r_ellipsis_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords") && col("r_dup_lines"))
  }

  def withRepetition(docs: DataFrame, n: Int = 3, textCol: String = "text"): DataFrame = {
    val t = tokensCol(lower(col(textCol)))
    val grams = flatten(transform(array(t), tt =>
      when(size(tt) < n, array(concat_ws(" ", tt)))
        .otherwise(transform(sequence(lit(0), size(tt) - n),
          i => concat_ws(" ", slice(tt, i + 1, lit(n)))))))
    docs.withColumn("__grams", grams)
      .withColumn("n_grams", size(col("__grams")).cast("long"))
      .withColumn("n_distinct_grams", size(array_distinct(col("__grams"))).cast("long"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct_grams").cast("double")
          / greatest(col("n_grams"), lit(1L)).cast("double"))
      .drop("__grams")
  }

  /** Document-level pointwise mutual information between token pairs
    * (Church & Hanks CL'90) — the collocation strength signal beside
    * tx11's positional co-occurrence counts:
    * `pmi(x,y) = ln(df_xy · N / (df_x · df_y))` over document
    * frequencies. Rare tokens are cut at `minDf` BEFORE pair
    * generation (PMI's known rare-pair explosion), and pairs build
    * IN-ROW from each document's sorted distinct frequent-token array
    * — vocabulary-bounded per doc, no self-join of the posting list.
    *
    * Scale: two token-keyed shuffles (df count, pair count), both
    * combinable; the wide rows are (token) and (token-pair) — never
    * text. PMI itself is same-operand-order arithmetic on exact
    * integer counts, rounded only for display.
    */
  /** Vocabulary coverage / OOV-rate report: learn the top-`vocabSize`
    * corpus vocabulary by frequency (ties to the lexicographically
    * smaller token, so the cut is total-ordered) and report per-doc
    * token totals, out-of-vocabulary counts, and the OOV rate — the
    * standard pre-check before committing a tokenizer/vocab size, and
    * the monitor that catches domain drift pushing OOV up.
    *
    * Scale: the vocabulary is top-V of a combinable (token, count)
    * aggregate via orderBy+limit (TakeOrderedAndProject — never a
    * global sort), then BROADCASTS (V is tokenizer-sized, tens of
    * thousands at most); membership marking is a broadcast left join on
    * the exploded token stream and the per-doc rollup is one combinable
    * shuffle of (doc, counts) partials. Corpus text never re-shuffles.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "vocabulary must be non-empty")
    val toks = docs
      .select(col(idCol).as("__d"), explode(split(lower(col(textCol)), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val vocab = toks.groupBy("t").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("t").asc).limit(vocabSize)
      .select(col("t"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        count(when(col("__in").isNull, 1)).cast("long").as("n_oov"))
      .select(col("__d").as(idCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("oov_rate"))
  }

  def pmiPairs(docs: DataFrame, minDf: Long = 5, topK: Int = 100,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // r16 note (measured, kept AS-IS): the tx15 repartition(t) trick
    // benched SLOWER here (1.75 vs 1.38 s at sf0.1 after deflating
    // host drift) — dfT is minDf-filtered to vocabulary size and
    // BROADCASTS into the perDoc join, so the dt side never shuffled
    // to begin with; a shared exchange only added one. Left alone.
    val dt = docs
      .select(col(idCol).as("d"),
        explode(array_distinct(tokensCol(lower(col(textCol))))).as("t"))
      .filter(length(col("t")) > 0)
    val dfT = dt.groupBy("t").agg(count(lit(1)).cast("long").as("df"))
      .filter(col("df") >= minDf)
    val perDoc = dt.join(dfT, "t")
      .groupBy("d").agg(array_sort(collect_list(col("t"))).as("ts"))
    val pairs = perDoc
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(ts)-2), i -> " +
          "transform(sequence(i+1, size(ts)-1), j -> " +
          "struct(ts[i] AS t1, ts[j] AS t2))))")).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).cast("long").as("df_xy"))
    val n = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    pairs
      .join(dfT.select(col("t").as("t1"), col("df").as("df1")), "t1")
      .join(dfT.select(col("t").as("t2"), col("df").as("df2")), "t2")
      .crossJoin(n)
      .select(col("t1"), col("t2"), col("df_xy"),
        round(log(col("df_xy").cast("double") * col("n_docs")
          / (col("df1") * col("df2"))), 6).as("pmi"))
      .orderBy(col("df_xy").desc, col("t1"), col("t2"))
      .limit(topK)
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999's fixed-discount form) — the smoothing that
    * actually powers n-gram LM filters, upgrading tx12's raw MLE:
    * P(w2|w1) = max(n12 − D, 0)/n1 + (D·N₁₊(w1,·)/n1) · (N₁₊(·,w2)/NB)
    * where N₁₊(w1,·) is the distinct-successor count, N₁₊(·,w2) the
    * distinct-predecessor (continuation) count, NB the bigram-type
    * total. Everything derives from ONE aggregated bigram table: all
    * counts are exact integers; the probability is a fixed-order
    * double expression the oracle mirrors.
    *
    * Scale: adjacency pairs are generated in-row (no positional
    * self-join), one combinable (w1, w2) count shuffle over the corpus,
    * then two vocab-bounded window passes and a broadcast 1-row type
    * total — text is never shuffled.
    */
  def knBigramLm(docs: DataFrame, discount: Double = 0.75,
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = docs
      .select(split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks)-2), i -> " +
          "struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).cast("long").as("n12"))
      // three consumers (two windows + the type total): persist the
      // vocab-bounded aggregate, not the corpus
      .persist(StorageLevel.DISK_ONLY)
    val w1win = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val w2win = org.apache.spark.sql.expressions.Window.partitionBy(col("w2"))
    val nb = broadcast(pairs.agg(count(lit(1)).cast("double").as("__nb")))
    val d = lit(discount)
    val out = pairs
      .withColumn("n1", sum(col("n12")).over(w1win).cast("long"))
      .withColumn("npost", count(lit(1)).over(w1win).cast("long"))
      .withColumn("npre", count(lit(1)).over(w2win).cast("long"))
      .crossJoin(nb)
      .withColumn("p_kn",
        greatest(col("n12").cast("double") - d, lit(0.0)) / col("n1").cast("double")
          + (d * col("npost").cast("double") / col("n1").cast("double"))
            * (col("npre").cast("double") / col("__nb")))
      .select(col("w1"), col("w2"), col("n12"), col("n1"),
        col("npost"), col("npre"), col("p_kn"))
    // lazy DISK_ONLY persist on the vocab-bounded aggregate only: the
    // terminal action materializes it once for all three consumers and
    // the harness's per-query clearCache() releases it. Eager
    // localCheckpoint(true) re-ran the LM build on every plan build
    // (r10 verdict: tx18 4.5×).
    out
  }

  /** Nucleus (top-p) successor sets of a bigram language model
    * (Holtzman et al. 2020's sampling rule applied to corpus
    * statistics): for each context token, the smallest
    * probability-ranked successor set whose cumulative mass reaches
    * `p`, reported as (set size, exact mass). The vocabulary-audit
    * view of "how peaked is the corpus LM here" — a companion to the
    * tx12 bigram LM.
    *
    * Determinism: the nucleus rule is evaluated ENTIRELY in integers —
    * a successor is in the nucleus iff `(cum − c) · denom <
    * num · total` with p = num/denom exact longs — so no float ever
    * decides membership; the reported mass is one final division.
    *
    * Scale: one combinable bigram-count shuffle, one per-context
    * window (contexts are the partition key — no global sort), output
    * one row per qualifying context.
    */
  def nucleusVocab(docs: DataFrame, pNum: Long = 9, pDenom: Long = 10,
                   minTotal: Long = 50, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    val big = toks.as("x").join(toks.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("y.pos") === col("x.pos") + 1)
      .groupBy(col("x.tok").as("t1"), col("y.tok").as("t2"))
      .agg(count(lit(1)).cast("long").as("c"))
    val totals = big.groupBy("t1").agg(sum("c").cast("long").as("total"))
      .filter(col("total") >= minTotal)
    val w = Window.partitionBy("t1").orderBy(col("c").desc, col("t2").asc)
    big.join(totals, "t1")
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      // integer nucleus rule: rows before the mass crossing, inclusive
      .filter((col("cum") - col("c")) * pDenom < lit(pNum) * col("total"))
      .groupBy("t1")
      .agg(first("total").cast("long").as("total"),
        count(lit(1)).cast("long").as("nucleus_n"),
        max("cum").cast("long").as("nucleus_c"))
      .withColumn("nucleus_mass",
        round(col("nucleus_c").cast("double") / col("total").cast("double"), 9))
  }

  /** Zipf-law fit over the term frequency distribution: OLS slope of
    * `ln(freq)` on `ln(rank)` across the top-`fitN` terms — the
    * corpus-linguistics health check (natural language sits near −1;
    * a synthetic or templated corpus drifts visibly). Emits the
    * top-`topK` terms with their ranks plus the fitted slope/intercept
    * on every row.
    *
    * Determinism: ranks are integers from the (count desc, term asc)
    * total order; `ln(rank)`/`ln(count)` quantize to nano-unit longs
    * per term, and ALL OLS moments (Σx, Σy, Σxy, Σx²) are exact
    * integer sums of those quantized values (decimal(38,0) products)
    * — slope and intercept are then two fixed-order double divisions,
    * so both engines agree bit-for-bit. The nano units cancel in the
    * slope; the intercept converts back once.
    *
    * Scale: one combinable token-count shuffle; the fit set is
    * `orderBy(...).limit(fitN)` — TakeOrdered per-partition heaps,
    * no global sort — and everything after is `fitN` rows.
    */
  /** Flesch reading-ease and Flesch–Kincaid grade level (Kincaid et
    * al. 1975 — the readability gates behind "write for grade 8"
    * policies and, in corpus curation, a complexity-stratification
    * feature). Syllables are approximated as vowel-group runs and
    * sentences as terminal-punctuation runs — the standard regex
    * approximations, both exact integer counts.
    *
    * One codegen column battery, no shuffle; the two scores are
    * fixed-order double arithmetic over the integer counts, so the
    * oracle reproduces them bit-for-bit.
    */
  def withReadability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = greatest(lit(1L),
      size(filter(split(col(textCol), " "), w => length(w) > 0)).cast("long"))
    val sentences = greatest(lit(1L),
      regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val syllables = greatest(lit(1L),
      regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long"))
    val (w, s, sy) = (col("rd_words").cast("double"),
      col("rd_sentences").cast("double"), col("rd_syllables").cast("double"))
    docs
      .withColumn("rd_words", words)
      .withColumn("rd_sentences", sentences)
      .withColumn("rd_syllables", syllables)
      .withColumn("flesch_ease",
        lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (sy / w))
      .withColumn("fk_grade",
        lit(0.39) * (w / s) + lit(11.8) * (sy / w) - lit(15.59))
  }

  def zipfFit(docs: DataFrame, fitN: Int = 100, topK: Int = 10,
              textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(fitN)
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
    val ranked = counts.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("qx", floor(log(col("rank").cast("double")) * lit(1e9) + lit(0.5))
        .cast("decimal(38,0)"))
      .withColumn("qy", floor(log(col("cnt").cast("double")) * lit(1e9) + lit(0.5))
        .cast("decimal(38,0)"))
      .persist()
    val m = ranked.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
      sum(col("qx") * col("qy")).as("sxy"), sum(col("qx") * col("qx")).as("sxx"))
    val nD = col("n").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    val fit = m.select(col("n"),
      slope.as("slope"),
      ((sy - slope * sx) / nD / 1e9).as("intercept"))
    val out = ranked.filter(col("rank") <= topK)
      .crossJoin(broadcast(fit))
      .select(col("rank"), col("term"), col("cnt"), col("n"),
        round(col("slope"), 9).as("slope"), round(col("intercept"), 9).as("intercept"))
    // fitN-row lazy cache shared by the moment pass and the topK slice;
    // the harness's per-query clearCache() releases it (eager
    // materialization re-ran the token count per plan build).
    out
  }

  /** Code-vs-prose detector — the battery that routes a pretraining
    * mix's documents to the code or natural-language pipeline (and the
    * cheap screen before an expensive learned classifier): programming
    * punctuation density (`{}();=<>[]`), indented-line fraction,
    * keyword-token hits from a fixed literal list. All in-row codegen
    * (translate + split + filter HOFs), zero shuffle; the keep rule is
    * a deterministic boolean over exact counts.
    */
  val CodeKeywords: Seq[String] = Seq("def", "return", "import", "class",
    "if", "else", "for", "while", "function", "var", "let", "const",
    "public", "void", "int", "string")

  def codeDetect(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val nSym = (length(t) - length(translate(t, "{}();=<>[]", ""))).cast("long")
    val lines = split(t, "\n")
    val nIndent = size(filter(lines, l => l.rlike("^(  |\t)"))).cast("long")
    val kwHits = size(filter(Dedup.tokens(t),
      tk => tk.isin(CodeKeywords: _*))).cast("long")
    docs.select(col(idCol), nChars.as("n_chars"), nSym.as("n_sym"),
        nIndent.as("n_indent_lines"), size(lines).cast("long").as("n_lines"),
        kwHits.as("n_kw"))
      .withColumn("symbol_ratio",
        when(col("n_chars") > 0,
          col("n_sym").cast("double") / col("n_chars").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("indent_frac",
        when(col("n_lines") > 0,
          col("n_indent_lines").cast("double") / col("n_lines").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("is_code",
        col("symbol_ratio") >= 0.03 &&
          (col("n_kw") >= 2 || col("indent_frac") >= 0.3))
  }

  /** Heaps'-law fit (Heaps 1978; Herdan 1960): vocabulary growth
    * V(n) ≈ K·n^β against cumulative token count, the companion
    * diagnostic to [[zipfFit]] — β well under the typical 0.4–0.6
    * band flags a templated/duplicated corpus whose vocabulary stops
    * growing; β ≈ 1 flags noise (every token new). The fit is least
    * squares in log-log space over one cumulative point per document
    * in doc-id order.
    *
    * Determinism: per-doc token and first-occurrence counts are exact
    * longs; cumulatives come from [[Stats.prefixSum]] (exact-integer
    * two-pass, order fixed by doc id); the log-log points quantize to
    * 1e-9 before the decimal-exact normal-equation sums — the zl1
    * discipline, so the oracle mirrors every float op.
    *
    * Scale: one token-count shuffle + one first-occurrence (term)
    * shuffle, then the range-partitioned prefix sum — no
    * single-reducer window anywhere (`sum() over (ORDER BY)` would
    * funnel the corpus through one task; prefixSum is the two-pass
    * escape).
    */
  def heapsFit(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("__d"),
        explode(Dedup.tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
    val perDoc = toks.groupBy(col("__d"))
      .agg(count(lit(1)).cast("long").as("n_toks"))
    val firstNew = toks.groupBy(col("__t"))
      .agg(min(col("__d")).as("__d"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).cast("long").as("n_new"))
    val base = docs.select(col(idCol).as("__d"))
      .join(perDoc, Seq("__d"), "left")
      .join(firstNew, Seq("__d"), "left")
      .select(col("__d"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val cum = Stats.prefixSum(base, Seq(col("__d").asc), Seq("n_toks", "n_new"))
      .filter(col("cum_n_toks") > 0 && col("cum_n_new") > 0)
    val qq = cum.select(
      floor(log(col("cum_n_toks").cast("double")) * lit(1e9) + lit(0.5))
        .cast("decimal(38,0)").as("qx"),
      floor(log(col("cum_n_new").cast("double")) * lit(1e9) + lit(0.5))
        .cast("decimal(38,0)").as("qy"),
      col("cum_n_toks"), col("cum_n_new"))
    val m = qq.agg(
      count(lit(1)).cast("long").as("n_points"),
      max(col("cum_n_toks")).as("total_tokens"),
      max(col("cum_n_new")).as("vocab"),
      sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
      sum(col("qx") * col("qy")).as("sxy"), sum(col("qx") * col("qx")).as("sxx"))
    val nD = col("n_points").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    m.select(col("n_points"), col("total_tokens"), col("vocab"),
      slope.as("beta"),
      ((sy - slope * sx) / nD / 1e9).as("log_k"))
  }

  /** Hill tail-index estimator (Hill 1975) over the token frequency
    * distribution: `α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1))` on the top-k
    * order statistics — the principled power-law exponent, the
    * maximum-likelihood companion to zl1's regression slope (α ≈ 1/s
    * for Zipf slope s). Decides how much head-vocabulary special-casing
    * a tokenizer/cache needs.
    *
    * Determinism: order statistics come from the (count desc, token
    * asc) total order; each ln term is one log of an exact-integer
    * ratio, pico-floored BEFORE the k-term sum.
    *
    * Scale: one corpus-sized token count, then a vocabulary-sized
    * top-(k+1) (TakeOrdered at real scale); k is a constant.
    */
  def hillTailIndex(docs: DataFrame, textCol: String = "text",
                    k: Int = 100): DataFrame = {
    val freq = docs
      .select(explode(tokensCol(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cnt"))
    val ranked = freq
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .filter(col("rn") <= k + 1)
      .persist()
    val tail = ranked.filter(col("rn") === (k + 1).toLong)
      .select(col("cnt").as("x_tail"))
    val terms = ranked.filter(col("rn") <= k.toLong)
      .crossJoin(broadcast(tail))
      .select(floor(log(col("cnt").cast("double") /
        col("x_tail").cast("double")) * lit(1e12) + lit(0.5))
        .cast("long").as("l_pico"), col("x_tail"))
    val out = terms.groupBy("x_tail")
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("l_pico").cast("decimal(38,0)")).as("sp"))
      .select(col("k"), col("x_tail"),
        round(col("sp").cast("double") / 1e12, 9).as("sum_log"),
        round(col("k").cast("double") /
          (col("sp").cast("double") / 1e12), 6).as("alpha"))
      .localCheckpoint() // 1 row; lets the cache drop
    ranked.unpersist(false)
    out
  }

  /** Feature-hashing collision audit (Weinberger 2009's hashing trick,
    * audited before anyone trains on it): hash the vocabulary into
    * `buckets` slots, report how many TERMS share a slot and how much
    * token MASS sits in shared slots — the two numbers that decide
    * whether 2^b buckets is enough for this corpus's vocabulary.
    *
    * Determinism: the bucket is the md5-prefix integer mod `buckets`
    * (the repo's portable-coin idiom — engine-exact); all counts are
    * exact longs, two display divisions.
    *
    * Scale: token explode → vocabulary count → bucket rollup: two
    * combinable shuffles (corpus-sized, then vocabulary-sized); the
    * report is one row.
    */
  def featureHashReport(docs: DataFrame, textCol: String = "text",
                        buckets: Int = 16384): DataFrame = {
    val terms = docs
      .select(explode(tokensCol(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)))
    val perBucket = terms.groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum("cnt").cast("long").as("mass"))
    perBucket.agg(
        sum("n_terms").cast("long").as("n_terms"),
        count(lit(1)).cast("long").as("buckets_used"),
        sum(when(col("n_terms") > 1L, col("n_terms")).otherwise(0L))
          .cast("long").as("colliding_terms"),
        sum(when(col("n_terms") > 1L, col("mass")).otherwise(0L))
          .cast("long").as("colliding_mass"),
        sum("mass").cast("long").as("total_mass"),
        max("n_terms").cast("long").as("max_bucket_terms"))
      .select(col("n_terms"), lit(buckets.toLong).as("n_buckets"),
        col("buckets_used"), col("colliding_terms"), col("max_bucket_terms"),
        round(col("colliding_terms").cast("double") /
          col("n_terms").cast("double"), 9).as("term_collision_rate"),
        round(col("colliding_mass").cast("double") /
          col("total_mass").cast("double"), 9).as("mass_collision_share"))
  }

  /** Good–Turing / Chao1 vocabulary-richness report per group — "how
    * much of this language's vocabulary have we NOT seen yet?": from
    * the frequency-of-frequencies, the Good–Turing unseen-mass estimate
    * `P₀ = N₁/N` (Good 1953), the Chao1 richness floor
    * `V + N₁²/(2N₂)` (Chao 1984), and the GT-adjusted hapax count
    * `r*₁ = 2N₂/N₁` — the corpus-growth planning numbers (is more
    * crawl worth it for language X?).
    *
    * Determinism: everything up to the two display divisions is exact
    * integer counting; N₁/N₂ guards use `greatest(·,1)` (documented:
    * Chao1 degenerates to V when no doubletons exist).
    *
    * Scale: token explode → (group, token) count → freq-of-freq —
    * two combinable shuffles, the first corpus-sized, the second
    * vocabulary-sized; the report is groups×max-r-bounded.
    */
  def goodTuringReport(docs: DataFrame, groupCol: String = "lang",
                       textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
        explode(tokensCol(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val freq = toks.groupBy("g", "tok").agg(count(lit(1)).cast("long").as("r"))
    val fof = freq.groupBy("g", "r").agg(count(lit(1)).cast("long").as("n_r"))
    fof.groupBy("g").agg(
        sum(col("r") * col("n_r")).cast("long").as("n_tokens"),
        sum("n_r").cast("long").as("vocab"),
        sum(when(col("r") === 1L, col("n_r")).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("r") === 2L, col("n_r")).otherwise(0L)).cast("long").as("n2"))
      .select(col("g").as(groupCol), col("n_tokens"), col("vocab"),
        col("n1"), col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 9)
          .as("p_unseen"),
        round(col("vocab").cast("double") +
          col("n1").cast("double") * col("n1").cast("double") /
            (lit(2.0) * greatest(col("n2"), lit(1L)).cast("double")), 6).as("chao1"),
        round(lit(2.0) * col("n2").cast("double") /
          greatest(col("n1"), lit(1L)).cast("double"), 9).as("r_star_1"))
  }

  /** ROUGE-N (Lin, 2004) over (reference, candidate) text pairs — the
    * summarization/generation-eval staple: clipped n-gram overlap
    * `Σ_g min(count_ref(g), count_cand(g))`, reported as
    * precision/recall/F1 per pair and n. The multiset (clipped)
    * counting is what distinguishes it from plain Jaccard (dd2): a
    * candidate repeating one reference gram five times scores it once
    * per reference occurrence, not five.
    *
    * Determinism: everything is exact integer counts; P/R/F1 are
    * MICRO integers by integer division (`f1 = 2·ov / (ref+cand)` —
    * the harmonic mean's exact rational form, no float). Empty sides
    * report 0 rather than dividing by zero.
    *
    * Scale: one explode-count shuffle per (side, n) keyed by (pair,
    * gram) — combinable, corpus-linear; the overlap join carries
    * (pair, gram, count) triples only.
    */
  def rougeN(pairs: DataFrame, refCol: String, candCol: String,
             idCol: String, ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    // `base` is a lazy cache entry shared by the 3 legs of each n
    // (ref-grams, cand-grams, lengths); callers in long-lived sessions
    // release it via clearCache() — the calibrationReport contract
    // (eager materialize-then-unpersist re-runs on every plan build).
    val base = pairs.select(col(idCol).cast("long").as("pid"),
        expr(s"filter(split(lower($refCol), ' '), x -> length(x) > 0)").as("rt"),
        expr(s"filter(split(lower($candCol), ' '), x -> length(x) > 0)").as("ct"))
      .persist()
    val legs = ns.map { n =>
      def gcol(tc: String) = expr(
        s"""CASE WHEN size($tc) >= $n THEN
           |  transform(sequence(1, size($tc) - ${n - 1}),
           |    i -> concat_ws(' ', slice($tc, i, $n)))
           |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
      val rc = base.select(col("pid"), explode(gcol("rt")).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("rc"))
      val cc = base.select(col("pid"), explode(gcol("ct")).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("cc"))
      val ov = rc.join(cc, Seq("pid", "g"))
        .groupBy("pid").agg(sum(least(col("rc"), col("cc"))).cast("long").as("ov"))
      base.select(col("pid"),
          greatest(lit(0L), (size(col("rt")) - lit(n - 1)).cast("long")).as("ref_grams"),
          greatest(lit(0L), (size(col("ct")) - lit(n - 1)).cast("long")).as("cand_grams"))
        .join(ov, Seq("pid"), "left")
        .select(lit(n.toLong).as("n"), col("pid"),
          coalesce(col("ov"), lit(0L)).as("overlap"),
          col("ref_grams"), col("cand_grams"))
    }
    legs.reduce(_ unionByName _)
      .withColumn("precision_micro", when(col("cand_grams") === 0L, 0L)
        .otherwise(expr("(overlap * 1000000L) div cand_grams")))
      .withColumn("recall_micro", when(col("ref_grams") === 0L, 0L)
        .otherwise(expr("(overlap * 1000000L) div ref_grams")))
      .withColumn("f1_micro",
        when(col("ref_grams") + col("cand_grams") === 0L, 0L)
          .otherwise(expr("(2L * overlap * 1000000L) div (ref_grams + cand_grams)")))
  }

  /** Sentence-level BLEU (Papineni et al., ACL'02): clipped n-gram
    * precision for n = 1..`maxN`, geometric mean, brevity penalty —
    * the MT-filtering staple for (reference, candidate) pair quality
    * (bitext mining, back-translation audit, round-trip checks). No
    * smoothing: any zero n-gram precision makes the pair's BLEU
    * exactly 0 (the strict original definition — deterministic, and
    * the right behavior for FILTERING, where a zero-4-gram pair is
    * exactly what you want to drop).
    *
    * Determinism: clipped matches `m_n = Σ_g min(refcount, candcount)`
    * and gram totals are exact longs; BLEU's one double expression
    * `BP · exp(Σ ln(m_n/c_n) / N)` is fixed-order over those longs
    * (bit-identical in both engines), nano-quantized for display.
    *
    * Scale: like [[rougeN]] — one explode-count shuffle per (side, n)
    * keyed (pair, gram), combinable; the per-n legs join on pid only.
    */
  def bleu(pairs: DataFrame, refCol: String, candCol: String,
           idCol: String, maxN: Int = 4): DataFrame = {
    // lazy cache entry shared by the 2·maxN gram legs (the rougeN /
    // calibrationReport contract: callers clearCache())
    val base = pairs.select(col(idCol).cast("long").as("pid"),
        expr(s"filter(split(lower($refCol), ' '), x -> length(x) > 0)").as("rt"),
        expr(s"filter(split(lower($candCol), ' '), x -> length(x) > 0)").as("ct"))
      .persist()
    def gcol(tc: String, n: Int) = expr(
      s"""CASE WHEN size($tc) >= $n THEN
         |  transform(sequence(1, size($tc) - ${n - 1}),
         |    i -> concat_ws(' ', slice($tc, i, $n)))
         |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
    val legs = (1 to maxN).map { n =>
      val rc = base.select(col("pid"), explode(gcol("rt", n)).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("rc"))
      val cc = base.select(col("pid"), explode(gcol("ct", n)).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("cc"))
      val m = rc.join(cc, Seq("pid", "g"))
        .groupBy("pid")
        .agg(sum(least(col("rc"), col("cc"))).cast("long").as(s"m_$n"))
      base.select(col("pid"),
          greatest(lit(0L), (size(col("ct")) - lit(n - 1)).cast("long"))
            .as(s"c_$n"))
        .join(m, Seq("pid"), "left")
        .select(col("pid"), coalesce(col(s"m_$n"), lit(0L)).as(s"m_$n"),
          col(s"c_$n"))
    }
    val joined = legs.reduce(_.join(_, "pid"))
    val withLen = base.select(col("pid"),
        size(col("rt")).cast("long").as("ref_len"),
        size(col("ct")).cast("long").as("cand_len"))
      .join(joined, "pid")
    val allPos = (1 to maxN)
      .map(n => col(s"m_$n") > 0L && col(s"c_$n") > 0L).reduce(_ && _)
    val logSum = (1 to maxN)
      .map(n => log(col(s"m_$n").cast("double") / col(s"c_$n").cast("double")))
      .reduce(_ + _)
    val bp = when(col("cand_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("ref_len").cast("double") / col("cand_len").cast("double")))
    withLen
      .withColumn("bleu_nano", when(allPos,
        floor(bp * exp(logSum / lit(maxN.toDouble)) * lit(1e9) + lit(0.5))
          .cast("long")).otherwise(lit(0L)))
      .select(Seq(col("pid"), col("ref_len"), col("cand_len")) ++
        (1 to maxN).flatMap(n => Seq(col(s"m_$n"), col(s"c_$n"))) :+
        col("bleu_nano"): _*)
  }

  /** chrF (Popović, WMT'15): character-n-gram F-β over whitespace-
    * stripped lowercase text — the tokenization-free MT/translation
    * quality signal that survives morphology-rich languages where
    * word-level BLEU collapses. β = 2 (recall-weighted, the paper's
    * recommended setting); n = 1..`maxN`.
    *
    * Determinism: with β² = 4 the per-n F reduces to the EXACT
    * rational `(1+β²)·m_n / (β²·r_n + c_n)` (substitute P = m/c,
    * R = m/r and simplify), so every column is an exact long via one
    * integer division — no floats anywhere.
    *
    * Scale: same shape as [[bleu]] at character granularity — the
    * gram explosion is ~`maxN·chars` rows per pair, combinable counts.
    */
  def chrF(pairs: DataFrame, refCol: String, candCol: String,
           idCol: String, maxN: Int = 3): DataFrame = {
    val beta2 = 4L // β = 2
    // lazy cache entry shared by the 2·maxN gram legs (the rougeN /
    // calibrationReport contract: callers clearCache())
    val base = pairs.select(col(idCol).cast("long").as("pid"),
        regexp_replace(lower(col(refCol)), " ", "").as("rs"),
        regexp_replace(lower(col(candCol)), " ", "").as("cs"))
      .persist()
    def gcol(sc: String, n: Int) = expr(
      s"""CASE WHEN length($sc) >= $n THEN
         |  transform(sequence(1, length($sc) - ${n - 1}),
         |    i -> substring($sc, i, $n))
         |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
    val legs = (1 to maxN).map { n =>
      val rc = base.select(col("pid"), explode(gcol("rs", n)).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("rc"))
      val cc = base.select(col("pid"), explode(gcol("cs", n)).as("g"))
        .groupBy("pid", "g").agg(count(lit(1)).cast("long").as("cc"))
      val m = rc.join(cc, Seq("pid", "g"))
        .groupBy("pid")
        .agg(sum(least(col("rc"), col("cc"))).cast("long").as("m"))
      base.select(col("pid"),
          greatest(lit(0L), (length(col("rs")) - lit(n - 1)).cast("long"))
            .as("r_grams"),
          greatest(lit(0L), (length(col("cs")) - lit(n - 1)).cast("long"))
            .as("c_grams"))
        .join(m, Seq("pid"), "left")
        .select(lit(n.toLong).as("n"), col("pid"),
          coalesce(col("m"), lit(0L)).as("matched"),
          col("r_grams"), col("c_grams"))
    }
    val perN = legs.reduce(_ unionByName _)
      .withColumn("f_micro",
        when(lit(beta2) * col("r_grams") + col("c_grams") === 0L, 0L)
          .otherwise(expr(
            s"((1 + $beta2) * matched * 1000000L) div ($beta2 * r_grams + c_grams)")))
    // chrF = mean of the per-n F scores (exact integer mean — `div`,
    // not `/`, so no double division sneaks into the display column)
    val summary = perN.groupBy("pid")
      .agg(expr(s"sum(f_micro) div ${maxN}L").cast("long").as("chrf_micro"))
    perN.join(summary, "pid")
      .select(col("n"), col("pid"), col("matched"), col("r_grams"),
        col("c_grams"), col("f_micro"), col("chrf_micro"))
  }

  /** word2vec-style negative-sampling table (Mikolov et al., NeurIPS
    * '13 §2.2): sampling weight ∝ count^0.75 — the power that keeps
    * frequent tokens from swamping the negatives while still
    * preferring them over the tail. Emits the top-`topK` rows of the
    * table with exact-integer sampling probabilities and the
    * cumulative boundary each token owns in a 2⁶⁰-sided roulette
    * wheel (the alias-free sampler production uses: draw u ∈ [0, 2⁶⁰),
    * binary-search the boundary).
    *
    * Determinism: count^0.75 is computed as `exp(0.75·ln c)` — the
    * SAME composition in both engines (never pow(), whose libm
    * implementations differ) — then pico-quantized per token before
    * the order-free total; probabilities and boundaries are exact
    * integer divisions and prefix sums over the quantized weights in
    * (weight desc, token asc) total order.
    *
    * Scale: one combinable token-count shuffle; the table itself is
    * vocabulary-bounded and the top-k cut a TakeOrdered.
    */
  def negativeSamplingTable(docs: DataFrame, topK: Int = 30,
                            power: Double = 0.75,
                            textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(expr(
        s"filter(split(lower($textCol), ' '), x -> length(x) > 0)")).as("t"))
      .groupBy("t").agg(count(lit(1)).cast("long").as("c"))
      .withColumn("w_pico",
        floor(exp(lit(power) * log(col("c").cast("double"))) * lit(1e12) +
          lit(0.5)).cast("long"))
    val tot = counts.agg(sum(col("w_pico").cast("decimal(38,0)")).as("w_tot"))
    val w = Window.orderBy(col("w_pico").desc, col("t").asc)
    counts.crossJoin(broadcast(tot))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cum_w", sum(col("w_pico").cast("decimal(38,0)")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("r") <= topK)
      .select(col("r").as("rank"), col("t").as("token"), col("c"),
        expr("CAST((CAST(w_pico AS DECIMAL(38,0)) * 1000000) div w_tot AS BIGINT)")
          .as("p_micro"),
        // wheel_hi = floor(cum_w·2⁶⁰ / w_tot), computed as two 2³⁰
        // steps so the intermediate never exceeds decimal(38,0):
        // cum_w·2⁶⁰ = (q·w_tot + r)·2³⁰ with q = (cum_w·2³⁰) div w_tot,
        // r = (cum_w·2³⁰) mod w_tot ⇒ wheel = q·2³⁰ + (r·2³⁰) div w_tot
        // — exact, and safe to w_tot ≈ 10²⁸ pico-weights (a direct
        // cum_w·2⁶⁰ silently NULLed past w_tot ≈ 8.7·10¹⁹, i.e.
        // trillion-token corpora).
        expr("""CAST(((cum_w * 1073741824) div w_tot) * 1073741824
               |  + ((cum_w * 1073741824) % w_tot * 1073741824) div w_tot
               |  AS BIGINT)""".stripMargin)
          .as("wheel_hi"))
  }

  /** Keyness by Dunning's log-likelihood ratio (Dunning, CL'93 — the
    * corpus-linguistics standard that, unlike χ², stays calibrated for
    * rare words): which terms DISCRIMINATE the focus partition from
    * the rest of the corpus? The curation readout behind "what is
    * actually in this source/language/cluster" — domain-divergence
    * (dm1) says HOW FAR apart two slices are, this names the terms
    * responsible.
    *
    * Per term with counts a (focus), b (rest) and totals N_A, N_B:
    * `G² = 2·(a·ln(a/E_a) + b·ln(b/E_b))`, E_x = N_x·(a+b)/(N_A+N_B);
    * zero cells contribute 0 (the x·ln(x/E) → 0 limit). `overused`
    * flags terms whose focus rate exceeds the rest rate.
    *
    * Determinism: a/b/N are exact integer counts; G² is one
    * fixed-order double per term, micro-quantized; the top-k cut is a
    * (g2 desc, term asc) integer total order.
    *
    * Scale: ONE combinable (term, partition) count shuffle; everything
    * after is vocabulary-bounded, the top-k a TakeOrdered.
    */
  def keynessLlr(docs: DataFrame, focus: Column, topK: Int = 30,
                 minCount: Long = 5L,
                 textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(focus.as("f"), explode(expr(
        s"filter(split(lower($textCol), ' '), x -> length(x) > 0)")).as("t"))
      .groupBy("t")
      .agg(sum(when(col("f"), 1L).otherwise(0L)).cast("long").as("a"),
        sum(when(col("f"), 0L).otherwise(1L)).cast("long").as("b"))
      .filter(col("a") + col("b") >= minCount)
    val tot = counts.agg(sum("a").cast("long").as("na"),
      sum("b").cast("long").as("nb"))
    val g = counts.crossJoin(broadcast(tot))
    val (ad, bd, nad, nbd) = (col("a").cast("double"), col("b").cast("double"),
      col("na").cast("double"), col("nb").cast("double"))
    val ea = nad * (ad + bd) / (nad + nbd)
    val eb = nbd * (ad + bd) / (nad + nbd)
    val term1 = when(col("a") > 0L, ad * log(ad / ea)).otherwise(lit(0.0))
    val term2 = when(col("b") > 0L, bd * log(bd / eb)).otherwise(lit(0.0))
    g.withColumn("g2_micro",
        floor(lit(2.0) * (term1 + term2) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("overused", ad * nbd > bd * nad)
      .orderBy(col("g2_micro").desc, col("t").asc)
      .limit(topK)
      .select(col("t").as("term"), col("a").as("n_focus"),
        col("b").as("n_rest"), col("g2_micro"), col("overused"))
  }

  /** Rényi-2 (collision) entropy efficiency of the whitespace-token
    * unigram distribution — the tokenizer-quality signal of Zouhar et
    * al. (ICML'23, "Tokenization and the Noiseless Channel"): how
    * close the token distribution is to uniform over its vocabulary,
    * which their experiments tie to downstream MT quality better than
    * fertility. α = 2 keeps everything exact: `H₂ = −ln(Σ p²)` where
    * `Σ p² = (Σ n_t²) / T²` is an exact rational of count sums (no
    * pow(), whose libm implementations differ across engines).
    * Shannon H ships alongside via the standard pico-quantized term
    * sum (the js1 discipline); both normalize by ln(V).
    *
    * Scale: ONE combinable token-count shuffle; the n_t² sum is a
    * second combinable pass over the vocabulary-sized count table.
    */
  def renyiEfficiency(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(expr(
        s"filter(split(lower($textCol), ' '), x -> length(x) > 0)")).as("t"))
      .groupBy("t").agg(count(lit(1)).cast("long").as("c"))
    val tot = counts.agg(sum("c").cast("long").as("t_tokens"),
      count(lit(1)).cast("long").as("vocab"))
    val sums = counts.crossJoin(broadcast(tot))
      .select(col("t_tokens"), col("vocab"),
        col("c").cast("decimal(38,0)").as("cd"),
        floor(-(col("c").cast("double") / col("t_tokens").cast("double")) *
          log(col("c").cast("double") / col("t_tokens").cast("double")) *
          lit(1e12) + lit(0.5)).cast("long").as("sh_pico"))
      .groupBy("t_tokens", "vocab")
      .agg(sum(col("cd") * col("cd")).as("s2"),
        sum(col("sh_pico").cast("decimal(38,0)")).as("sh_sum"))
    val collision = col("s2").cast("double") /
      (col("t_tokens").cast("double") * col("t_tokens").cast("double"))
    val lnV = log(col("vocab").cast("double"))
    sums.select(col("t_tokens").as("n_tokens"), col("vocab"),
      floor(-log(collision) * lit(1e9) + lit(0.5)).cast("long")
        .as("h2_nano"),
      floor(col("sh_sum").cast("double") / lit(1e12) * lit(1e9) + lit(0.5))
        .cast("long").as("h_shannon_nano"),
      when(col("vocab") > 1L,
        floor(-log(collision) / lnV * lit(1e9) + lit(0.5)).cast("long"))
        .otherwise(lit(0L)).as("eff2_nano"),
      when(col("vocab") > 1L,
        floor(col("sh_sum").cast("double") / lit(1e12) / lnV * lit(1e9) +
          lit(0.5)).cast("long")).otherwise(lit(0L)).as("eff_shannon_nano"))
  }

  /** Keyword-in-context concordance (KWIC — the corpus-linguistics
    * staple since Luhn '60): every occurrence of `term` with its
    * ±`window`-token context, the human-inspection surface behind
    * every "show me how the corpus actually uses X" question (quality
    * triage, lexicon building, dedup spot checks). One narrow in-row
    * pass — match positions and context slices are list HOFs; exact
    * integer positions, no shuffle.
    */
  def kwic(docs: DataFrame, term: String, window: Int = 3,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    // term lands inside a Spark SQL string literal: escape backslashes
    // FIRST, then quotes — a bare backslash would otherwise produce a
    // malformed or semantically different literal
    val termLit = term.replace("\\", "\\\\").replace("'", "\\'")
    docs.select(col(idCol),
        expr(s"filter(split(lower($textCol), ' '), x -> length(x) > 0)")
          .as("ws"))
      .withColumn("p", explode(expr(
        s"""CASE WHEN size(ws) = 0 THEN CAST(array() AS ARRAY<INT>)
           |ELSE filter(sequence(1, size(ws)),
           |  p -> element_at(ws, p) = '$termLit') END""".stripMargin)))
      .select(col(idCol), col("p").cast("long").as("pos"),
        expr(s"""array_join(slice(ws, greatest(p - $window, 1),
                |  least(p + $window, size(ws))
                |    - greatest(p - $window, 1) + 1), ' ')""".stripMargin)
          .as("context"))
  }

  /** TextTiling topic segmentation, block-comparison form (Hearst,
    * CL'97 — the standard lexical-cohesion segmenter): cut each
    * document into `w`-word blocks, score every inter-block gap by the
    * lexical cohesion of its two sides, and place topic BOUNDARIES at
    * interior local-minimum gaps whose cohesion falls below the
    * document mean. The long-document chunking prep that beats fixed
    * windows ([[graft.ops.Curate]] chunkDocs): RAG/packing chunks cut
    * at topic shifts, not mid-topic.
    *
    * Simplifications vs the paper, chosen for exact cross-engine
    * arithmetic: cohesion is the word-TYPE Jaccard of adjacent blocks
    * (exact integer micro ratio) instead of the token-count cosine,
    * and the boundary rule is `local minimum ∧ coh·n_gaps < Σcoh`
    * (an integer cross-product — no float mean, no stddev cutoff).
    *
    * Scale: entirely IN-ROW — one narrow codegen pass of list HOFs
    * per document, no shuffle at all; the rollup is the caller's
    * choice. The emitted boundary list makes the gate verify the full
    * segmentation.
    */
  def textTiling(docs: DataFrame, w: Int = 10,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(w > 0, "block width must be positive")
    docs.select(col(idCol), col(textCol))
      .withColumn("ws", expr(
        s"filter(split(lower($textCol), ' '), x -> length(x) > 0)"))
      .withColumn("nb", expr(s"CAST((size(ws) + $w - 1) div $w AS INT)"))
      .withColumn("blocks", expr(
        s"transform(sequence(0, greatest(nb - 1, 0)), bi -> " +
          s"array_distinct(slice(ws, bi * $w + 1, $w)))"))
      .withColumn("coh", expr(
        s"""CASE WHEN nb < 2 THEN CAST(array() AS ARRAY<BIGINT>)
           |ELSE transform(sequence(0, nb - 2), g ->
           |  CAST(CASE WHEN size(array_union(element_at(blocks, g + 1),
           |      element_at(blocks, g + 2))) = 0 THEN 0
           |    ELSE (size(array_intersect(element_at(blocks, g + 1),
           |        element_at(blocks, g + 2))) * 1000000)
           |      div size(array_union(element_at(blocks, g + 1),
           |        element_at(blocks, g + 2))) END AS BIGINT))
           |END""".stripMargin))
      .withColumn("scoh", expr(
        "aggregate(coh, CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("bnds", expr(
        """CASE WHEN size(coh) < 3 THEN CAST(array() AS ARRAY<INT>)
          |ELSE filter(sequence(1, size(coh) - 2), g ->
          |  element_at(coh, g + 1) < element_at(coh, g) AND
          |  element_at(coh, g + 1) <= element_at(coh, g + 2) AND
          |  element_at(coh, g + 1) * size(coh) < scoh)
          |END""".stripMargin))
      .select(col(idCol), size(col("ws")).cast("long").as("n_words"),
        col("nb").cast("long").as("n_blocks"),
        expr("CASE WHEN size(coh) = 0 THEN 0L ELSE scoh div size(coh) END")
          .as("mean_coh_micro"),
        size(col("bnds")).cast("long").as("n_boundaries"),
        concat_ws(",", expr("transform(bnds, x -> CAST(x AS STRING))"))
          .as("boundaries"))
  }

  /** Compression-ratio quality gate (Rae et al. '21 Gopher §A1.1;
    * Penedo et al. '24 FineWeb — both pipelines ship exactly this
    * filter): per document `deflate_len(text) / octet_length(text)`,
    * the one-pass signal that catches BOTH tails token statistics
    * miss — boilerplate/templated text compresses abnormally LOW,
    * while base64/minified/random blobs sit near (or above) 1.0.
    * Per-source rollup: exact mean ratio plus the counts falling
    * under `lowMicro` (repetitive suspects) and over `highMicro`
    * (high-entropy suspects).
    *
    * Determinism: the byte count is a pure function of the UTF-8
    * bytes for the pinned JDK zlib; ratios are exact integer micro
    * divisions. No SQL engine exposes DEFLATE, so the ratio values
    * carry law-based spec checks (OpsSpec); the registered gate row
    * is [[compressionGate]], whose columns are all SQL-expressible.
    *
    * Scale: ONE narrow codegen pass (the [[graft.functions.DeflateLen]]
    * expression) + a combinable (source) rollup — corpus-linear,
    * no shuffle beyond the sources-bounded aggregate.
    */
  def compressionRatio(docs: DataFrame, lowMicro: Long = 300000L,
                       highMicro: Long = 950000L,
                       groupCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = docs.select(col(groupCol).as("grp"),
        octet_length(col(textCol)).cast("long").as("nb"),
        call_function("deflate_len", col(textCol)).as("dl"))
      .withColumn("ratio_micro",
        expr("CASE WHEN nb = 0 THEN 1000000L ELSE (dl * 1000000L) div nb END"))
    per.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(dec(col("ratio_micro"))).as("sr"),
        sum(when(col("ratio_micro") < lowMicro, 1L).otherwise(0L))
          .cast("long").as("n_repetitive"),
        sum(when(col("ratio_micro") > highMicro, 1L).otherwise(0L))
          .cast("long").as("n_high_entropy"))
      .select(col("grp").as("source"), col("n_docs"),
        expr("CAST(sr div n_docs AS BIGINT)").as("mean_ratio_micro"),
        col("n_repetitive"), col("n_high_entropy"))
  }

  /** Decoding-watermark detection (Kirchenbauer et al., ICML'23 — the
    * red/green-list scheme): a watermarking sampler boosts "green"
    * tokens, where greenness of token i is a pseudo-random function of
    * token i−1. The detector recomputes the green set per bigram and
    * z-tests the green fraction against the null γ = 1/4:
    * `z = (g − γn)/√(nγ(1−γ)) = (4g − n)/√(3n)`. A training-data
    * pipeline runs this to FLAG machine-generated (watermarked) text
    * before it contaminates the corpus — the synthetic-text
    * countermeasure beside heuristic quality filters.
    *
    * Greenness is the md5 of `w_{i-1} ␟ w_i`: the 15th hex digit
    * mod 4 == 0 (exactly γ = 1/4 over the uniform hex digit), exact
    * and engine-portable (no float hashing). z is one fixed-form
    * sqrt/division on exact integer inputs, nano-quantized.
    *
    * Scale: entirely IN-ROW — one narrow codegen pass per document
    * (the bigram fold never leaves the row), no shuffle at all.
    */
  def watermarkDetect(docs: DataFrame, zFlagNano: Long = 4000000000L,
                      textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n_scored"),
        expr("""CAST(size(filter(sequence(0, size(toks) - 2), i ->
               |  CAST(conv(substring(md5(concat(toks[i], chr(31),
               |    toks[i + 1])), 15, 1), 16, 10) AS BIGINT) % 4 = 0))
               |  AS BIGINT)""".stripMargin).as("n_green"))
      .withColumn("z_nano",
        floor((lit(4L) * col("n_green") - col("n_scored")).cast("double") /
          sqrt(lit(3.0) * col("n_scored").cast("double")) * lit(1e9) +
          lit(0.5)).cast("long"))
      .withColumn("wm_flag", col("z_nano") > lit(zFlagNano))

  /** Min-K% prob membership/memorization audit (Shi et al. '24,
    * "Detecting Pretraining Data from LLMs"): a document the model
    * (here: the corpus bigram LM, the [[perplexityFilter]] head) has
    * effectively memorized has NO surprising tokens — so score each
    * document by the mean NLL of its k% HIGHEST-NLL bigrams. A low
    * min-k score means even the rarest transitions are high
    * probability: the duplicate/contamination signal that mean
    * perplexity dilutes away.
    *
    * Determinism: per-bigram NLL is one fixed-form log on the exact
    * integer add-one ratio, nano-quantized; the per-document top-k%
    * selection is an integer total order (nll_nano desc, position
    * asc); the score is an exact integer mean.
    *
    * Scale: the LM is the tx14 machinery (two combinable count
    * shuffles + a broadcast vocab scalar); the top-k% selection is a
    * document-partitioned rank window — width bounded by document
    * length, never corpus-sized.
    */
  def minKProb(docs: DataFrame, kPct: Int = 20,
               textCol: String = "text"): DataFrame = {
    require(kPct >= 1 && kPct <= 100, "kPct must be in [1, 100]")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val b = docs
      .select(col("doc_id"), split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks)-2), i -> " +
          "struct(toks[i] AS w1, toks[i+1] AS w2))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val c12 = b.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("n12"))
    val c1 = c12.groupBy("w1").agg(sum("n12").cast("long").as("n1"))
    val vocab = c12.agg(countDistinct(col("w2")).cast("long").as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(vocab))
      .withColumn("nll_nano", floor(-log(
          (col("n12") + lit(1L)).cast("double") /
            (col("n1") + col("v")).cast("double")) * lit(1e9) + lit(0.5))
        .cast("long"))
      .select("w1", "w2", "nll_nano")
    b.join(lm, Seq("w1", "w2"))
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("nll_nano").desc, col("pos").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id"))
        .cast("long"))
      .withColumn("kc", greatest(expr(s"(n * ${kPct}L) div 100L"), lit(1L)))
      .filter(col("rk") <= col("kc"))
      .groupBy("doc_id")
      .agg(first(col("n")).as("n_scored"), first(col("kc")).as("k_cnt"),
        sum(dec(col("nll_nano"))).as("s"))
      .select(col("doc_id"), col("n_scored"), col("k_cnt"),
        expr("CAST(s div k_cnt AS BIGINT)").as("mink_nll_nano"))
  }

  /** Prompt-injection marker scan — the adversarial-instruction
    * hygiene pass an instruction-tuning corpus runs BEFORE training:
    * count documents containing the classic injection phrasings
    * ("ignore previous instructions", "disregard the above", …,
    * generic and public), per source. A corpus that ships these
    * teaches the model to obey them; the scan is the cheap first
    * line (a trained classifier is the second).
    *
    * Counts are substring containment on lowercased text — exact
    * integers, identical both engines.
    *
    * Scale: one narrow in-row pass (markers × instr per row) + a
    * sources-bounded rollup — the unicodeHygiene profile.
    */
  val InjectionMarkers: Seq[String] = Seq(
    "ignore previous instructions", "ignore all previous instructions",
    "disregard the above", "you must now", "pretend you are",
    "do anything now", "system prompt:", "developer mode")

  def injectionScan(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val hits = InjectionMarkers.map(m =>
      when(instr(lowered, m) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    val per = docs.select(col(groupCol).as("grp"), hits.as("n_markers"))
    per.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_markers") > 0L, 1L).otherwise(0L)).cast("long")
          .as("n_flagged"),
        sum(col("n_markers")).cast("long").as("n_marker_hits"))
      .select(col("grp").as("source"), col("n_docs"), col("n_flagged"),
        col("n_marker_hits"),
        expr("(n_flagged * 1000000L) div n_docs").as("flag_rate_micro"))
  }

  /** Robust per-source outlier share — the MAD rule (|x − median| >
    * 3.5·MAD, Iglewicz & Hoaglin's cutoff) over the quality score:
    * unlike mean/stddev gates, a heavy-tailed source can't drag its
    * own threshold. The per-source "how much junk is in here" number
    * beside the absolute tx2 cutoffs.
    *
    * Determinism: quality micro-quantizes first; the grouped median
    * and MAD are exact interpolated percentiles (the hi2/h10
    * convention); deviations and the 3.5 cutoff are fixed-form
    * doubles on identical inputs both engines.
    *
    * Scale: two grouped tree-aggregated percentile passes (sources ×
    * percentile state) + narrow joins back — no per-source sort, no
    * global window.
    */
  def madOutliers(docs: DataFrame, cutoff: Double = 3.5,
                  groupCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val per = withQuality(docs, textCol)
      .select(col(groupCol).as("grp"),
        floor(col("quality_score") * lit(1e6) + lit(0.5)).cast("long")
          .as("q"))
    val med = per.groupBy("grp")
      .agg(expr("percentile(q, CAST(5 AS DOUBLE)/10)").as("med"))
    val dev = per.join(med, "grp")
      .withColumn("dv", abs(col("q").cast("double") - col("med")))
    val mad = dev.groupBy("grp")
      .agg(expr("percentile(dv, CAST(5 AS DOUBLE)/10)").as("mad"))
    dev.join(mad, "grp")
      .groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        first(col("med")).as("m0"), first(col("mad")).as("d0"),
        sum(when(col("dv") > lit(cutoff) * col("mad"), 1L).otherwise(0L))
          .cast("long").as("n_outliers"))
      .select(col("grp").as("source"), col("n_docs"),
        round(col("m0"), 6).as("median_q_micro"),
        round(col("d0"), 6).as("mad_micro"),
        col("n_outliers"),
        expr("(n_outliers * 1000000L) div n_docs").as("outlier_rate_micro"))
  }

  /** Decode-loop detection — the "model got stuck repeating a phrase"
    * artifact of greedy/low-temperature decoding (and of scraped spam):
    * the maximum number of CONSECUTIVE repetitions of any trigram at
    * stride 3 (`w_i w_{i+1} w_{i+2}` repeated back-to-back). Distinct
    * from the Gopher repetition ratios (top-n-gram COVERAGE — a page
    * can trip those with scattered repeats); this flags the contiguous
    * loop that screams synthetic text. Complements [[watermarkDetect]]
    * in the synthetic-text defense.
    *
    * Mechanics: per-trigram match flags (g[i] = g[i−3]) explode to
    * rows; the longest streak per (doc, phase) is gaps-and-islands
    * over DOC-BOUNDED windows — exact integers, both engines.
    *
    * Scale: one in-row trigram pass + a (doc) shuffle of narrow flag
    * rows + doc-bounded windows — the t9 sessionize cost class.
    */
  def decodeLoops(docs: DataFrame, flagAt: Int = 4,
                  textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
        expr(s"filter(split(lower($textCol), ' '), x -> length(x) > 0)")
          .as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), (size(col("ws")) - 2).cast("long").as("ng"),
        expr("""transform(sequence(1, size(ws) - 2), i ->
               |  concat(element_at(ws, i), ' ', element_at(ws, i + 1),
               |    ' ', element_at(ws, i + 2)))""".stripMargin).as("gs"))
    val matches = toks.select(col("doc_id"), col("ng"),
        posexplode(expr(
          """CASE WHEN size(gs) <= 3 THEN CAST(array() AS ARRAY<BOOLEAN>)
            |ELSE transform(sequence(4, size(gs)), i ->
            |  element_at(gs, i) = element_at(gs, i - 3)) END""".stripMargin)))
      .select(col("doc_id"), col("ng"), (col("pos") + 4).cast("long").as("i"),
        col("col").as("m"))
      .filter(col("m"))
    val runs = matches
      .withColumn("ph", pmod(col("i"), lit(3L)))
      .withColumn("isl", expr("i div 3") - row_number().over(
        Window.partitionBy("doc_id", "ph").orderBy(col("i").asc)).cast("long"))
      .groupBy("doc_id", "ph", "isl")
      .agg(count(lit(1)).cast("long").as("streak"))
      .groupBy("doc_id")
      .agg(max(col("streak")).as("best"))
    toks.select(col("doc_id"), col("ng").as("n_trigrams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_trigrams"),
        (coalesce(col("best"), lit(0L)) + 1L).as("max_repeats"),
        (coalesce(col("best"), lit(0L)) + 1L >= flagAt).as("loop_flag"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC'20): score
    * every document by its mean bigram NLL under the corpus LM (the
    * [[perplexityFilter]] head), cut the corpus at the exact global
    * tercile order statistics, and report per-source head/middle/tail
    * composition — THE quality-mix report behind "keep the head,
    * down-sample the tail" curation (head = most fluent).
    *
    * Determinism: per-bigram NLL nano-quantizes before the exact
    * integer per-doc mean (no order-dependent double sums — the
    * minKProb discipline); cuts are exact interpolated percentiles
    * over those integers (the hi2/h10 cross-engine convention);
    * bucket comparisons are integer-vs-cut.
    *
    * Scale: the tx14 LM machinery + ONE tree-aggregated percentile
    * (broadcast cuts — the scale-safe alternative to a global ntile
    * window) + a (source, bucket) combinable rollup.
    */
  def perplexityBuckets(docs: DataFrame, k: Int = 3,
                        textCol: String = "text"): DataFrame = {
    require(k >= 2, "need at least 2 buckets")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val b = docs
      .select(col("doc_id"), split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-2), i -> " +
          "struct(toks[i] AS w1, toks[i+1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = b.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("n12"))
    val c1 = c12.groupBy("w1").agg(sum("n12").cast("long").as("n1"))
    val vocab = c12.agg(countDistinct(col("w2")).cast("long").as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(vocab))
      .withColumn("nll_nano", floor(-log(
          (col("n12") + lit(1L)).cast("double") /
            (col("n1") + col("v")).cast("double")) * lit(1e9) + lit(0.5))
        .cast("long"))
      .select("w1", "w2", "nll_nano")
    val perDoc = b.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(dec(col("nll_nano"))).as("s"))
      .select(col("doc_id"), expr("CAST(s div n_bigrams AS BIGINT)")
        .as("nll_nano"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val ps = (1 until k).map(i => s"CAST($i AS DOUBLE)/$k")
    val cuts = perDoc.agg(
      expr(s"percentile(nll_nano, array(${ps.mkString(",")}))").as("__cuts"))
    val bucket = (0 until k - 1).foldRight(lit(k - 1): Column) { (i, els) =>
      when(col("nll_nano") < col("__cuts")(i), i).otherwise(els)
    }
    val counts = perDoc.crossJoin(broadcast(cuts))
      .groupBy(col("source"), bucket.cast("int").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr("CAST(sum(CAST(nll_nano AS DECIMAL(38,0))) div count(1) " +
          "AS BIGINT)").as("mean_nll_nano"))
    val totals = counts.groupBy("source")
      .agg(sum("n_docs").cast("long").as("nt"))
    counts.join(broadcast(totals), "source")
      .select(col("source"), col("bucket"), col("n_docs"),
        expr("(n_docs * 1000000L) div nt").as("share_micro"),
        col("mean_nll_nano"))
  }

  /** Mojibake / encoding-damage audit (the ftfy problem class): count
    * the classic double-encoding signatures per document — U+FFFD
    * replacement characters (decoder already gave up), 'Ã' (UTF-8
    * bytes re-decoded as Latin-1: é→Ã©, ü→Ã¼, …), 'â€'
    * (UTF-8 punctuation re-decoded: '→â€™, "→â€œ), and stray C1
    * control characters (U+0080–U+009F, the Windows-1252 re-decode
    * residue) — and roll up per-source damage rates. The encoding
    * health check a multi-source ingest runs BEFORE text filters,
    * since mojibake corrupts every downstream token statistic.
    *
    * Counts are replace-based exact integers (length deltas), no
    * regex except the C1 class; rates are exact micro divisions.
    *
    * Scale: one narrow in-row pass + a sources-bounded combinable
    * rollup — the compressionGate profile.
    */
  def mojibakeAudit(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def subCount(sig: String) =
      ((length(t) - length(regexp_replace(t, lit(java.util.regex.Pattern
        .quote(sig)), lit("")))) / lit(sig.length)).cast("long")
    val per = docs.select(col(groupCol).as("grp"),
      subCount("�").as("c_repl"),
      subCount("Ã").as("c_a_tilde"),
      subCount("â€").as("c_a_circ"),
      (length(t) - length(regexp_replace(t,
        lit("[\\x{0080}-\\x{009F}]"), lit("")))).cast("long").as("c_c1"))
    per.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("c_repl") + col("c_a_tilde") + col("c_a_circ") +
          col("c_c1") > 0L, 1L).otherwise(0L)).cast("long").as("n_damaged"),
        sum(col("c_repl")).cast("long").as("n_replacement"),
        sum(col("c_a_tilde")).cast("long").as("n_latin1_utf8"),
        sum(col("c_a_circ")).cast("long").as("n_punct_mojibake"),
        sum(col("c_c1")).cast("long").as("n_c1_controls"))
      .select(col("grp").as("source"), col("n_docs"), col("n_damaged"),
        expr("(n_damaged * 1000000L) div n_docs").as("damage_rate_micro"),
        col("n_replacement"), col("n_latin1_utf8"),
        col("n_punct_mojibake"), col("n_c1_controls"))
  }

  /** Unicode-hygiene audit — the three invisible-character attack /
    * contamination channels a code-and-text corpus must scan for:
    * BIDI control characters (U+202A–202E, U+2066–2069 — the Trojan
    * Source vector, CVE-2021-42574: source code that renders
    * differently than it parses), ZERO-WIDTH characters (U+200B–200D,
    * U+FEFF — the classic steganographic watermark channel), and
    * MIXED-SCRIPT homoglyph suspects (Cyrillic letters co-occurring
    * with Latin in one document — the spoofing signal behind IDN
    * confusable checks). Per-source counts and flagged-doc rates.
    *
    * All counts are replace-based exact integers on RE2-compatible
    * class patterns (identical both engines); rates exact micro.
    *
    * Scale: one narrow in-row pass + a sources-bounded combinable
    * rollup — the compressionGate/mojibake profile.
    */
  def unicodeHygiene(docs: DataFrame, groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def reCount(cls: String) =
      (length(t) - length(regexp_replace(t, lit(cls), lit("")))).cast("long")
    val per = docs.select(col(groupCol).as("grp"),
      reCount("[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]").as("c_bidi"),
      reCount("[\\x{200B}-\\x{200D}\\x{FEFF}]").as("c_zw"),
      reCount("[\\x{0400}-\\x{04FF}]").as("c_cyr"),
      (length(regexp_replace(t, lit("[^A-Za-z]"), lit(""))) > 0)
        .as("has_latin"))
    per.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("c_bidi") > 0L, 1L).otherwise(0L)).cast("long")
          .as("n_bidi_docs"),
        sum(col("c_bidi")).cast("long").as("n_bidi_chars"),
        sum(when(col("c_zw") > 0L, 1L).otherwise(0L)).cast("long")
          .as("n_zero_width_docs"),
        sum(col("c_zw")).cast("long").as("n_zero_width_chars"),
        sum(when(col("c_cyr") > 0L && col("has_latin"), 1L).otherwise(0L))
          .cast("long").as("n_mixed_script_docs"),
        sum(when(col("c_bidi") > 0L || col("c_zw") > 0L ||
          (col("c_cyr") > 0L && col("has_latin")), 1L).otherwise(0L))
          .cast("long").as("n_flagged"))
      .select(col("grp").as("source"), col("n_docs"), col("n_bidi_docs"),
        col("n_bidi_chars"), col("n_zero_width_docs"),
        col("n_zero_width_chars"), col("n_mixed_script_docs"),
        col("n_flagged"),
        expr("(n_flagged * 1000000L) div n_docs").as("flag_rate_micro"))
  }

  /** Oracle-checkable gate row for the compression-ratio pass. The
    * DEFLATE byte counts themselves are not SQL-expressible, so this
    * emits per-source columns an independent SQL engine CAN verify —
    * while still forcing the [[graft.functions.DeflateLen]] expression
    * to execute over every document: `n_in_envelope` counts documents
    * whose deflate length lies inside zlib's documented expansion
    * bound (`0 < dl <= nb + nb/1000 + 64`, the `compressBound`
    * envelope plus header margin; covers nb = 0, where the zlib frame
    * is 8 bytes). A correct deflate yields `n_in_envelope = n_docs`
    * exactly — which is what the oracle asserts — so a native
    * expression returning garbage (zero, negative, inflated) flips
    * the gate red instead of passing a vacuous row count.
    *
    * Scale: identical profile to [[compressionRatio]] — one narrow
    * codegen pass + a sources-bounded combinable rollup.
    */
  def compressionGate(docs: DataFrame, groupCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    val per = docs.select(col(groupCol).as("grp"),
      octet_length(col(textCol)).cast("long").as("nb"),
      call_function("deflate_len", col(textCol)).as("dl"))
    per.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("nb").cast("decimal(38,0)")).as("sb"),
        sum(when(expr("dl > 0L AND dl <= nb + (nb div 1000) + 64L"),
          1L).otherwise(0L)).cast("long").as("n_in_envelope"))
      .select(col("grp").as("source"), col("n_docs"),
        expr("CAST(sb AS BIGINT)").as("n_bytes"), col("n_in_envelope"))
  }

  /** (p, k)-extractability probe (the discretized form of Carlini et
    * al. "Quantifying Memorization Across Neural Language Models",
    * ICLR'23): treat each document's first `promptLen` tokens as the
    * PROMPT and the following `contLen` tokens as the continuation
    * window; a prompt shared by >= 2 documents whose next-`contLen`
    * tokens all AGREE is extractable — greedy decoding from the
    * duplicated prefix reproduces the window verbatim, the signal
    * dedup must remove before training. Reports every duplicated
    * prompt group with its document count, distinct-continuation
    * count, and the extractable flag (exact-dup removal alone leaves
    * shared-opening boilerplate behind; this catches it).
    *
    * Scale: one narrow in-row pass (lowercase, split, two slices) and
    * ONE combinable (prompt) aggregation whose distinct-continuation
    * count shuffles only (prompt, window) pairs — the dd1 cost class;
    * output is bounded by duplicated-prompt groups.
    */
  def extractability(docs: DataFrame, promptLen: Int = 8, contLen: Int = 8,
                     textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), " "), w => length(w) > 0)
    docs.select(toks.as("toks"))
      .filter(size(col("toks")) >= promptLen + 1)
      .select(
        concat_ws(" ", slice(col("toks"), 1, promptLen)).as("prompt"),
        concat_ws(" ", slice(col("toks"), promptLen + 1, contLen)).as("next_k"))
      .groupBy("prompt")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("next_k")).cast("long").as("n_continuations"))
      .filter(col("n_docs") >= 2)
      .select(col("prompt"), col("n_docs"), col("n_continuations"),
        (col("n_continuations") === 1L).as("extractable"))
  }
  /** Distinct-n generation diversity (Li et al. NAACL'16's distinct-1/
    * 2/3, the standard mode-collapse report for synthetic corpora):
    * per source and n-gram order, unique n-grams over total n-grams,
    * micro-quantized. A synthetic drop whose distinct-2 collapses
    * against its source peers is the templated-generation signal the
    * per-doc repetition audits (tx9, loop1, sa1) can't see — this is
    * the corpus-level complement.
    *
    * Scale: ONE in-row pass expands each doc to its tagged n-grams
    * (bounded ×maxN blow-up of the token stream) + one combinable
    * (source, n) aggregation; the distinct count shuffles (source, n,
    * gram) — the dd1 cost class. No joins, no windows.
    */
  def ngramDiversity(docs: DataFrame, maxN: Int = 3,
                     groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col(groupCol).as("grp"),
        filter(split(lower(col(textCol)), " "), w => length(w) > 0).as("toks"))
      .select(col("grp"), explode(expr(
        // the empty-doc guard casts explicitly: a bare array() would
        // not unify with the struct branch, and sequence(0, size-n)
        // auto-reverses when size < n (the rg1/aug2 gotcha)
        s"""flatten(transform(sequence(1, $maxN), n ->
           |  CASE WHEN size(toks) >= n THEN
           |    transform(sequence(0, size(toks) - n), i ->
           |      named_struct('n', n, 'g', concat_ws(' ', slice(toks, i + 1, n))))
           |  ELSE CAST(array() AS array<struct<n: int, g: string>>) END))"""
          .stripMargin)).as("p"))
      .select(col("grp"), col("p.n").cast("int").as("n"), col("p.g").as("gram"))
    grams.groupBy("grp", "n")
      .agg(count(lit(1)).cast("long").as("n_total"),
        countDistinct(col("gram")).cast("long").as("n_distinct"))
      .select(col("grp").as("source"), col("n"), col("n_total"),
        col("n_distinct"),
        expr("(n_distinct * 1000000L) div n_total").as("distinct_micro"))
  }

  /** SQuAD-style answer scoring: exact match + token-multiset F1 after
    * the standard normalization (lowercase, strip non-alphanumerics to
    * spaces, drop English articles, collapse whitespace) — the
    * QA-eval readout every instruction-tuning pipeline runs over
    * (prediction, gold) answer pairs.
    *
    * All-integer outputs (`f1_nano` is a scaled exact division of two
    * small integers), so an external oracle reproduces every bit. The
    * multiset overlap folds IN-ROW over the distinct predicted tokens
    * (answers are short by construction — no shuffle, no explode): one
    * narrow codegen pass, embarrassingly parallel at any corpus size.
    */
  def answerEmF1(pairs: DataFrame, goldCol: String, predCol: String,
                 idCol: String): DataFrame = {
    def norm(c: String) = expr(
      s"""filter(split(regexp_replace(lower($c), '[^a-z0-9]+', ' '), ' '),
         |  x -> length(x) > 0 AND x NOT IN ('a', 'an', 'the'))""".stripMargin)
    val base = pairs.select(col(idCol).cast("long").as("pid"),
      norm(goldCol).as("gt"), norm(predCol).as("pt"))
    base
      .withColumn("n_gold", size(col("gt")).cast("long"))
      .withColumn("n_pred", size(col("pt")).cast("long"))
      .withColumn("em", (col("gt") === col("pt")).cast("int"))
      .withColumn("n_overlap", expr(
        """aggregate(array_distinct(pt), 0L, (acc, t) ->
          |  acc + least(size(filter(pt, x -> x = t)),
          |              size(filter(gt, x -> x = t))))""".stripMargin))
      .withColumn("f1_nano",
        when(col("n_pred") + col("n_gold") === 0L, col("em") * lit(1000000000L))
          .otherwise(expr("(2L * n_overlap * 1000000000L) div (n_pred + n_gold)")))
      .select("pid", "em", "n_gold", "n_pred", "n_overlap", "f1_nano")
  }

  /** Token-level Levenshtein (word error rate) between a reference and
    * a hypothesis token array, both capped at `maxLen` — the ASR /
    * transcript-QA accuracy metric. The DP unrolls `maxLen` static
    * rounds (the dtw1 discipline); the in-round horizontal dependency
    * dp[i][j-1]+1 resolves via the prefix-min identity
    * dp_new[j] = j + min_{k<=j}(c[k] - k) with
    * c[k] = min(dp_old[k]+1, dp_old[k-1]+subst) and c[0] = i, so every
    * round is two bounded array transforms — no recursion, no UDF, one
    * whole-stage-codegen pass per round over a row-local O(maxLen)
    * array. `n_ref_full`/`n_hyp_full` carry the untruncated lengths so
    * a consumer sees exactly when the cap bites.
    *
    * All arithmetic is integer; `wer_nano` = dist·1e9 div n_ref (exact
    * floor), so the oracle mirrors bit-for-bit.
    */
  def tokenEditDistance(pairs: DataFrame, refCol: String, hypCol: String,
                        idCol: String, maxLen: Int = 16): DataFrame = {
    val base = pairs.select(col(idCol).cast("long").as("pid"),
        expr(s"filter(split($refCol, ' '), x -> length(x) > 0)").as("rf"),
        expr(s"filter(split($hypCol, ' '), x -> length(x) > 0)").as("hf"))
      .select(col("pid"),
        size(col("rf")).cast("long").as("n_ref_full"),
        size(col("hf")).cast("long").as("n_hyp_full"),
        expr(s"slice(rf, 1, $maxLen)").as("ra"),
        expr(s"slice(hf, 1, $maxLen)").as("ha"))
      .withColumn("m", size(col("ha")))
    // dp over hyp positions j (0..m), row i walks ref positions
    var dp = base.withColumn("dp",
      expr("transform(sequence(0, m), j -> CAST(j AS BIGINT))"))
    for (i <- 1 to maxLen) {
      dp = dp.withColumn("dp", expr(
        s"""CASE WHEN $i > size(ra) THEN dp ELSE
           |  transform(sequence(0, m), j ->
           |    CAST(j AS BIGINT) + array_min(transform(sequence(0, j), k ->
           |      (CASE WHEN k = 0 THEN ${i}L
           |            ELSE least(element_at(dp, k + 1) + 1L,
           |                       element_at(dp, k) +
           |                         (CASE WHEN element_at(ra, $i) = element_at(ha, k)
           |                               THEN 0L ELSE 1L END))
           |       END) - CAST(k AS BIGINT))))
           |END""".stripMargin))
    }
    dp.select(col("pid"),
      col("n_ref_full"), col("n_hyp_full"),
      size(col("ra")).cast("long").as("n_ref"),
      size(col("ha")).cast("long").as("n_hyp"),
      element_at(col("dp"), col("m") + 1).as("edit_dist"))
      .withColumn("wer_nano",
        when(col("n_ref") === 0L, col("edit_dist") * lit(1000000000L))
          .otherwise(expr("(edit_dist * 1000000000L) div n_ref")))
  }

  /** ROUGE-L: longest-common-subsequence overlap between reference and
    * candidate token arrays capped at `maxLen` — the summary /
    * self-instruct dedup metric n-gram ROUGE can't see (it credits
    * in-order but non-contiguous overlap). Same static-unroll DP as
    * [[tokenEditDistance]]; the horizontal dependency resolves via the
    * prefix-MAX identity dp_new[j] = max_{k<=j} c[k] with
    * c[k] = max(dp_old[k], dp_old[k-1] + match). Integer outputs:
    * precision/recall/F1 as exact scaled divisions (β = 1).
    */
  def rougeL(pairs: DataFrame, refCol: String, candCol: String,
             idCol: String, maxLen: Int = 20): DataFrame = {
    val base = pairs.select(col(idCol).cast("long").as("pid"),
        expr(s"filter(split(lower($refCol), ' '), x -> length(x) > 0)").as("rf"),
        expr(s"filter(split(lower($candCol), ' '), x -> length(x) > 0)").as("cf"))
      .select(col("pid"),
        size(col("rf")).cast("long").as("n_ref_full"),
        size(col("cf")).cast("long").as("n_cand_full"),
        expr(s"slice(rf, 1, $maxLen)").as("ra"),
        expr(s"slice(cf, 1, $maxLen)").as("ca"))
      .withColumn("m", size(col("ca")))
    var dp = base.withColumn("dp",
      expr("transform(sequence(0, m), j -> 0L)"))
    for (i <- 1 to maxLen) {
      dp = dp.withColumn("dp", expr(
        s"""CASE WHEN $i > size(ra) THEN dp ELSE
           |  transform(sequence(0, m), j ->
           |    array_max(transform(sequence(0, j), k ->
           |      CASE WHEN k = 0 THEN 0L
           |           ELSE greatest(element_at(dp, k + 1),
           |                         element_at(dp, k) +
           |                           (CASE WHEN element_at(ra, $i) = element_at(ca, k)
           |                                 THEN 1L ELSE 0L END))
           |      END)))
           |END""".stripMargin))
    }
    dp.select(col("pid"), col("n_ref_full"), col("n_cand_full"),
        size(col("ra")).cast("long").as("n_ref"),
        size(col("ca")).cast("long").as("n_cand"),
        element_at(col("dp"), col("m") + 1).as("lcs"))
      .withColumn("p_nano", when(col("n_cand") === 0L, lit(0L))
        .otherwise(expr("(lcs * 1000000000L) div n_cand")))
      .withColumn("r_nano", when(col("n_ref") === 0L, lit(0L))
        .otherwise(expr("(lcs * 1000000000L) div n_ref")))
      .withColumn("f1_nano", when(col("p_nano") + col("r_nano") === 0L, lit(0L))
        .otherwise(expr("(2L * p_nano * r_nano) div (p_nano + r_nano)")))
  }

  /** Yule's K + Simpson's D lexical-concentration report per group —
    * the repeated-vocabulary characteristic (Yule 1944): from the
    * frequency-of-frequencies spectrum, K = 10⁴·(Σᵣ r²·Vᵣ − N)/N² and
    * the Simpson repeat probability D = Σᵣ r(r−1)·Vᵣ / (N(N−1)). High
    * K/D flags templated or duplicated text (a narrow vocabulary doing
    * most of the token mass) — the lexical-diversity sibling of the
    * Heaps fit (hp1) and the Good–Turing unseen mass (gt1), measuring
    * concentration where those measure growth.
    *
    * Determinism: the spectrum is exact integer counting; both display
    * numbers are single floor divisions of decimal(38,0) integers
    * (micro units), so the oracle mirrors bit-for-bit via HUGEINT.
    * Bound: Σ r²·Vᵣ ≤ N², so the K numerator 1e10·(S₂−N) needs
    * N ≤ ~1.6e13 tokens to fit 38 digits — beyond 100 TB of text.
    *
    * Scale: same as gt1 — a corpus-sized (group, token) count then a
    * vocabulary-sized spectrum, both map-side combinable; output is
    * groups-bounded.
    */
  def yulesK(docs: DataFrame, groupCol: String = "lang",
             textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
        explode(tokensCol(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val freq = toks.groupBy("g", "tok").agg(count(lit(1)).cast("long").as("r"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    freq.groupBy("g").agg(
        sum("r").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(d38(col("r")) * d38(col("r"))).cast("decimal(38,0)").as("s2"),
        sum(d38(col("r")) * d38(col("r") - 1L)).cast("decimal(38,0)").as("srr"))
      .select(col("g").as(groupCol), col("n_tokens"), col("vocab"),
        col("s2").cast("long").as("s2"),
        // K = 1e4 * (S2 - N) / N^2 in micro units — `div` is Spark's
        // IntegralDivide, which truncates like DuckDB HUGEINT `//` on
        // these nonnegative operands (plain decimal `/` would ROUND)
        expr("""(CAST(10000000000 AS DECIMAL(38,0)) *
          |  (s2 - CAST(n_tokens AS DECIMAL(38,0)))) div
          |  (CAST(n_tokens AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0)))"""
          .stripMargin).as("yules_k_micro"),
        // D = sum r(r-1) / (N(N-1)) in nano units
        when(col("n_tokens") <= 1L, lit(0L)).otherwise(
          expr("""(CAST(1000000000 AS DECIMAL(38,0)) * srr) div
            |  (CAST(n_tokens AS DECIMAL(38,0)) *
            |   CAST(n_tokens - 1 AS DECIMAL(38,0)))""".stripMargin))
          .as("simpson_d_nano"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * PageRank over the corpus-wide word co-occurrence graph (window
    * ≤ 2, undirected — each edge walked in both directions), the
    * unsupervised keyword scorer that needs no training data. Classic
    * TextRank restricts nodes by part of speech; this engine-level
    * form uses a minimum token length instead (no tagger in the
    * pipeline) and scores the CORPUS vocabulary — the "what is this
    * corpus about" report beside tx6's TF-IDF (which ranks terms per
    * doc by rarity; TextRank ranks by graph centrality, surfacing
    * terms that co-occur with many other well-connected terms).
    *
    * Terms enter [[Graph.pageRank]] as md5Hash60 ids (the engine's
    * hash domain, identically computable by an external oracle);
    * every term string is carried in a vocabulary-sized side table
    * and joined back for the output, so nothing wide ever shuffles
    * strings. Determinism: fixed iterations (no convergence test);
    * double rank sums carry the same documented ulp caveat as pg1.
    *
    * Scale: pair generation is IN-ROW (tx11's flatten/transform —
    * positions never explode into a self-join); the distinct edge set
    * and the per-round (join + combinable sum + scalar broadcast)
    * shuffles are [[Graph.pageRank]]'s established shape with its
    * per-round lineage cut. Output is vocabulary-bounded.
    */
  def textRankTerms(docs: DataFrame, textCol: String = "text",
                    iterations: Int = 8, minLen: Int = 2): DataFrame = {
    val pairs = docs
      .select(expr(
        s"filter(split(lower($textCol), ' '), x -> length(x) >= $minLen)")
        .as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(toks)-2), i -> " +
          "transform(sequence(i+1, least(i+2, size(toks)-1)), j -> " +
          "struct(least(toks[i], toks[j]) AS t1, greatest(toks[i], toks[j]) AS t2))))"))
        .as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .filter(col("t1") =!= col("t2"))
      .distinct()
      // r16 OPT (§1.2): pairs persists — it feeds the edge set AND the
      // final term-name join; pageRank pins its own edge table but
      // unpersists it before returning, so the terms side re-ran the
      // full text parse + pair explode + distinct AFTER the loop
      // (~2.1 s of trk1's exec phase at sf0.1).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val terms = pairs.select(col("t1").as("term"))
      .union(pairs.select(col("t2").as("term"))).distinct()
      .withColumn("id", Dedup.md5Hash60(col("term")))
    val edges = pairs.select(Dedup.md5Hash60(col("t1")).as("src"),
      Dedup.md5Hash60(col("t2")).as("dst"))
    val undirected = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(undirected, iterations)
      .join(terms, col("v") === col("id"))
      .select(col("term"), col("pr"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Rapid Automatic
    * Keyword Extraction"): candidate phrases are the maximal runs of
    * content tokens between stopword/non-alpha delimiters; each member
    * word scores deg(w)/freq(w) (deg = Σ phrase length over the word's
    * phrase occurrences — words living in long phrases score high),
    * and a phrase scores the sum of its member word scores. The
    * phrase-level keyword extractor beside tx6 (per-doc TF-IDF rarity)
    * and trk1 (corpus graph centrality) — RAKE is the only one of the
    * three that returns multi-word units.
    *
    * Determinism: phrase construction, deg and freq are exact integer
    * counting; word scores are single integer floor divisions (micro
    * units) and the phrase score an order-free integer sum of them.
    * Top-K orders by (score desc, phrase asc).
    *
    * Scale: phrase splitting is ONE IN-ROW fold per document (no
    * shuffle, no self-join on positions); the only wide stages are a
    * corpus-linear (word, len) explode-count and a words-keyed join of
    * the DISTINCT phrase table against vocabulary-sized word scores.
    */
  def rakeKeywords(docs: DataFrame, textCol: String = "text",
                   topK: Int = 40): DataFrame = {
    val stops = RakeStopwords.map(s => s"'$s'").mkString(", ")
    // in-row run splitter: delimiters close the current phrase; the
    // finish lambda flushes a trailing run
    val phrases = docs.select(explode(expr(
      s"""aggregate(
         |  filter(split(lower($textCol), ' '), x -> length(x) > 0),
         |  named_struct('cur', '', 'out', CAST(array() AS ARRAY<STRING>)),
         |  (acc, t) -> CASE
         |    WHEN t IN ($stops) OR NOT t RLIKE '^[a-z]+$$' THEN
         |      named_struct('cur', '',
         |        'out', CASE WHEN acc.cur = '' THEN acc.out
         |                    ELSE concat(acc.out, array(acc.cur)) END)
         |    ELSE named_struct(
         |      'cur', CASE WHEN acc.cur = '' THEN t
         |                  ELSE concat(acc.cur, ' ', t) END,
         |      'out', acc.out) END,
         |  acc -> CASE WHEN acc.cur = '' THEN acc.out
         |              ELSE concat(acc.out, array(acc.cur)) END)"""
        .stripMargin)).as("phrase"))
    val occ = phrases.groupBy("phrase")
      .agg(count(lit(1)).cast("long").as("phrase_freq"))
    val pw = phrases.select(col("phrase"),
        size(split(col("phrase"), " ")).cast("long").as("plen"),
        explode(split(col("phrase"), " ")).as("w"))
    val wordScores = pw.groupBy("w").agg(
        count(lit(1)).cast("long").as("freq"),
        sum("plen").cast("long").as("deg"))
      .withColumn("wscore_micro", expr("(deg * 1000000L) div freq"))
    occ.select(col("phrase"), col("phrase_freq"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScores.select("w", "wscore_micro"), "w")
      .groupBy("phrase", "phrase_freq")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("wscore_micro").cast("long").as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(topK)
      .select("phrase", "n_words", "phrase_freq", "score_micro")
  }

  /** The RAKE delimiter stopword list — a fixed literal shared
    * verbatim with the oracle SQL (content tokens are additionally
    * required to be pure ASCII-letter words).
    */
  val RakeStopwords: Seq[String] = Seq("the", "a", "an", "and", "of",
    "is", "to", "in", "on", "at", "for", "with", "by", "from", "as",
    "that", "this", "it", "be", "are", "was", "or", "not")

  /** Term burstiness / adaptation report (Church & Gale 1995; Church
    * 2000 "Empirical estimates of adaptation"): for the highest-df
    * terms, Pr(a document mentions the term AGAIN | it mentioned it
    * once) = df₂/df₁, where df_k = #docs with ≥ k occurrences. Content
    * words adapt (a doc that says "earthquake" once likely says it
    * again); function words don't — the statistic separates topical
    * vocabulary from glue and calibrates df-based relevance scoring
    * (bm1) against term clumping that independence models miss.
    *
    * Determinism: exact integer doc/term counting; the adaptation
    * ratio is one integer floor division (micro units). Top-K is a
    * deterministic (df desc, term asc) TakeOrdered.
    *
    * Scale: one corpus-sized (doc, token) count — map-side combinable
    * — then a vocabulary-sized per-term rollup; only (term, counts)
    * pairs shuffle, and the report is top-K-bounded.
    */
  def termAdaptation(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", topK: Int = 40): DataFrame = {
    val perDoc = docs.select(col(idCol).as("id"),
        explode(tokensCol(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("id", "tok").agg(count(lit(1)).cast("long").as("c"))
    perDoc.groupBy("tok").agg(
        count(lit(1)).cast("long").as("df1"),
        sum(when(col("c") >= 2L, 1L).otherwise(0L)).cast("long").as("df2"),
        sum("c").cast("long").as("n_total"))
      .select(col("tok").as("term"), col("df1"), col("df2"), col("n_total"),
        expr("(df2 * 1000000L) div df1").as("adapt_micro"))
      .orderBy(col("df1").desc, col("term").asc)
      .limit(topK)
  }
}
