package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Top principal component of an embedding column by power iteration
  * (Mises & Pollaczek-Geiringer 1929; the PCA-whitening precursor every
  * embedding pipeline runs before indexing / probing — see also vq2's
  * per-dim standardization).
  *
  * Exactness across engines is engineered, not hoped for:
  *  - vectors are first quantized to int8 on a GLOBAL scale (the vq1
  *    rounding convention, `round(x / gmax * 127)` — cross-engine
  *    validated), so every covariance moment is an INTEGER sum —
  *    order-free, exactly reproducible under any partitioning;
  *  - the (unnormalized) covariance uses the integer identity
  *    `n·Σqᵢqⱼ − Σqᵢ·Σqⱼ` — no float centering pass;
  *  - power iteration runs on the collected 64×64 matrix with STRICT
  *    ascending-index left folds, the same ordered-fold discipline as
  *    VectorDot — bit-identical to an oracle that unrolls the same
  *    folds (`list_reduce(list_prepend(0.0, …))`).
  *
  * Scale: one narrow codegen pass for the global max, one for the
  * quantized upper-triangle products — a combinable (pos, long) sum
  * shuffle of dim·(dim+1)/2 cells per row batch. The collected pieces
  * are O(dim²) longs (2080 for dim 64 — the bounded-collect
  * discipline, cf. the k-means sample); the corpus is scanned exactly
  * twice and never shuffled wide. At petabyte row counts the int64
  * moment sums need DECIMAL(38,0) headroom (qᵢqⱼ ≤ 16129 · rows);
  * noted rather than paid here.
  */
object Pca {

  /** The corpus's exact integer moment table on a PINNED quantization
    * scale `gmax`: one row per moment cell —
    * kind 0 = row count (pos 0), kind 1 = per-dim sums Σqᵢ,
    * kind 2 = upper-triangle product sums Σqᵢ·qⱼ (pos = triangular
    * index). Because every cell is an integer sum, moment tables of
    * DISJOINT row sets merge by plain addition ([[mergeMoments]]) —
    * the incremental/streaming form of covariance maintenance: sign the
    * delta, add, never rescan the base. The pinned scale is what makes
    * the merge exact; production fixes `gmax` when the store is
    * created (re-pin + rebuild on range drift).
    *
    * Scale: two narrow codegen passes over the batch, combinable
    * (kind, pos, long) sums — dim·(dim+3)/2 + 1 cells total.
    */
  def momentTable(embs: DataFrame, gmax: Double, dim: Int,
                  vecCol: String = "embedding"): DataFrame = {
    val xd = transform(col(vecCol), _.cast("double"))
    val q = embs.select(transform(xd,
      v => round(v / lit(gmax) * lit(127.0)).cast("long")).as("q"))
    val s1 = q.select(posexplode(col("q")).as(Seq("pos", "qi")))
      .groupBy("pos").agg(sum("qi").as("s"))
      .select(lit(1).as("kind"), col("pos"), col("s"))
    // r16 OPT (§4): the upper-triangle product array is the dominant
    // per-row cost — the HOF form walks dim·(dim+1)/2 boxed lambda
    // calls per row; tri_products is one fused native loop with the
    // identical element order and exact long products. Degrades to the
    // HOF on sessions without GraftExtensions (same values).
    val upExpr = s"flatten(transform(sequence(0, ${dim - 1}), " +
      s"i -> transform(sequence(i, ${dim - 1}), j -> q[i] * q[j])))"
    val up =
      if (graft.functions.GraftExtensions.available("tri_products"))
        graft.functions.TriProducts.tri_products(col("q"))
      else expr(upExpr)
    val s2 = q.select(posexplode(up).as(Seq("pos", "p")))
      .groupBy("pos").agg(sum("p").as("s"))
      .select(lit(2).as("kind"), col("pos"), col("s"))
    val n = q.agg(count(lit(1)).as("s"))
      .select(lit(0).as("kind"), lit(0).as("pos"), col("s"))
    n.unionByName(s1).unionByName(s2)
  }

  /** Add moment tables cell-wise — exact (integer sums), commutative,
    * associative: the merge step of incremental covariance.
    */
  def mergeMoments(tables: DataFrame*): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy(col("kind"), col("pos")).agg(sum(col("s")).as("s"))

  /** Returns (dim_idx, loading, eigval): the top component's loading
    * per dimension plus the Rayleigh-quotient eigenvalue (in quantized
    * covariance units) on every row.
    */
  def topComponentQuantized(embs: DataFrame, iters: Int = 12,
                            vecCol: String = "embedding"): DataFrame = {
    val dim = embs.select(size(col(vecCol))).head.getInt(0)
    val gmax = globalAbsMax(embs, vecCol)
    topComponentAt(embs, gmax, dim, iters, vecCol)
  }

  /** The pinned quantization scale: global max |x| over the vector
    * column — one narrow codegen pass. Exposed so a caller that also
    * needs gmax for [[project]] computes it ONCE (r16: pca2 ran this
    * full pass twice, once inside [[topComponentQuantized]] and once
    * for the projection scale).
    */
  def globalAbsMax(embs: DataFrame, vecCol: String = "embedding"): Double = {
    val xd = transform(col(vecCol), _.cast("double"))
    embs.select(max(aggregate(xd, lit(0.0), (a, b) => greatest(a, abs(b)))))
      .head.getDouble(0)
  }

  /** [[topComponentQuantized]] with the scale and dimension already
    * known — skips the gmax pass and the dim probe. */
  def topComponentAt(embs: DataFrame, gmax: Double, dim: Int,
                     iters: Int = 12,
                     vecCol: String = "embedding"): DataFrame =
    topComponentFromMoments(momentTable(embs, gmax, dim, vecCol), dim, iters)

  /** Power-iterate the covariance assembled from a (possibly merged /
    * reloaded) moment table — the read side of the incremental store.
    * Identical folds to the fused path, so store round-trips are
    * bit-exact.
    */
  def topComponentFromMoments(moments: DataFrame, dim: Int,
                              iters: Int = 12): DataFrame = {
    val spark = moments.sparkSession
    import spark.implicits._

    val cells = moments.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val s1 = (0 until dim).map(i => i -> cells((1, i))).toMap
    val s2 = cells.collect { case ((2, p), v) => p -> v }
    val n = cells((0, 0))

    def triPos(i: Int, j: Int): Int = i * dim - i * (i - 1) / 2 + (j - i)
    val c = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (n * s2(triPos(a, b)) - s1(i) * s1(j)).toDouble // exact: < 2^53
    }

    // power iteration, strict ascending-index left folds throughout
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    def matVec(u: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += c(i)(j) * u(j); j += 1 }
        acc
      }
    for (_ <- 1 to iters) {
      val w = matVec(v)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(acc)
      v = w.map(_ / nrm)
    }
    val wF = matVec(v)
    var eig = 0.0
    var i = 0
    while (i < dim) { eig += v(i) * wF(i); i += 1 }

    v.zipWithIndex.map { case (l, d) => (d, l, eig) }.toSeq
      .toDF("dim_idx", "loading", "eigval")
  }

  /** Apply the component: per-vector score = qᵀ·v (int weights times
    * the plan-time loading literals, ascending in-row fold — exact).
    * The projection half of the whitening transform.
    */
  def project(embs: DataFrame, loadings: Seq[Double], gmax: Double,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val xd = transform(col(vecCol), _.cast("double"))
    val q = transform(xd, v => round(v / lit(gmax) * lit(127.0)).cast("long"))
    val ll = typedlit(loadings)
    embs.select(col(idCol),
      aggregate(zip_with(q, ll, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x).as("score"))
  }

  /** Linear CKA (Kornblith et al., ICML'19, "Similarity of Neural
    * Network Representations Revisited"): `CKA(X, Y) = ‖X̃ᵀỸ‖²_F /
    * (‖X̃ᵀX̃‖_F · ‖ỸᵀỸ‖_F)` over column-centered representations —
    * 1 iff the two embeddings of the SAME rows agree up to rotation +
    * isotropic scale, the invariances a downstream cosine consumer
    * has. THE modern answer to "did quantization / a new checkpoint /
    * a projection preserve the geometry", where per-vector error
    * norms (vq1) can't see that a harmless global rotation is
    * harmless.
    *
    * Exact-integer construction: both representations micro-quantize;
    * centering multiplies through by n (`c = n·x − Σx`, integer — CKA
    * is scale-invariant so the n factor cancels); all THREE Grams
    * (XY, XX, YY) come from ONE row-self-join over (row, dim) pairs
    * as exact decimal sums; each Gram cell's square pico-quantizes in
    * a FIXED unit before the order-free Frobenius sums; the final
    * ratio is one fixed-order double, nano display.
    *
    * Scale: the (row, dim) explode is n·d rows; the self-join on row
    * is n·d² — the standard distributed Gram shape, combinable by
    * (i, j); everything after is d²-bounded. Zero-variance
    * representations report 0.
    */
  def linearCka(df: DataFrame, vecACol: String, vecBCol: String,
                idCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ex = df.select(col(idCol).as("r"),
        posexplode(arrays_zip(col(vecACol), col(vecBCol))))
      .select(col("r"), col("pos").as("i"),
        floor(col(s"col.$vecACol").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("x"),
        floor(col(s"col.$vecBCol").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("y"))
    val means = ex.groupBy("i")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"))
    val centered = ex.join(broadcast(means), "i")
      .select(col("r"), col("i"),
        (col("n") * col("x") - col("sx")).as("cx"),
        (col("n") * col("y") - col("sy")).as("cy"))
    val grams = centered.as("a")
      .join(centered.as("b"), col("a.r") === col("b.r"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(dec(col("a.cx")) * dec(col("b.cy"))).as("gxy"),
        sum(dec(col("a.cx")) * dec(col("b.cx"))).as("gxx"),
        sum(dec(col("a.cy")) * dec(col("b.cy"))).as("gyy"))
    // fixed-unit pico-quantized squared cells (js1 discipline: quantize
    // BEFORE the order-free d²-cell sum); /1e18 keeps squares in long
    // range at micro·n scales
    def sq(g: String) = floor(
      (col(g).cast("double") / lit(1e18)) * (col(g).cast("double") / lit(1e18)) *
        lit(1e6) + lit(0.5)).cast("long")
    val fro = grams.select(sq("gxy").as("txy"), sq("gxx").as("txx"),
        sq("gyy").as("tyy"))
      .agg(sum(dec(col("txy"))).as("fxy"), sum(dec(col("txx"))).as("fxx"),
        sum(dec(col("tyy"))).as("fyy"))
    fro.select(
      when(col("fxx").cast("double") * col("fyy").cast("double") > 0.0,
        floor(col("fxy").cast("double") /
          sqrt(col("fxx").cast("double") * col("fyy").cast("double")) *
          lit(1e9) + lit(0.5)).cast("long")).otherwise(lit(0L))
        .as("cka_nano"))
  }

  /** WEAT — Word/Embedding Association Test (Caliskan, Bryson,
    * Narayanan, Science 2017): does the embedding space associate
    * target group X with attribute set A more than target group Y
    * does?  `s(w) = mean_A cos(w,a) − mean_B cos(w,b)`,
    * `S = Σ_X s − Σ_Y s`, effect size `d = (mean_X s − mean_Y s) /
    * std_{X∪Y} s`, significance by a SIGN-FLIP permutation test (the
    * standard large-set approximation of the paper's partition test —
    * md5-deterministic flips, the pb1 replicate discipline, add-one
    * p). THE embedding-bias audit a data pipeline runs before
    * shipping an encoder trained on its corpus.
    *
    * Determinism: per-pair cosines nano-quantize one fixed fold each;
    * s(w), S, the moments and every permuted statistic are exact
    * integer arithmetic; effect size is one double sqrt at display;
    * flips are pure md5 functions of (id, rep).
    *
    * Scale: attribute sets are SMALL by construction (that is what an
    * attribute battery is) — broadcast; the target side streams
    * through one narrow cosine pass and a combinable rollup; the
    * permutation table is reps × targets, combinable by rep.
    */
  /** weatTest's per-target differential-association table `sw` — the
    * |targets|×|attributes| cosine pass that dominates the operator.
    * Factored out (lazy, unpersisted) so the plan evidence can dump
    * the fragment the public entry materializes behind its
    * localCheckpoint. r16: the norm and per-pair folds ride the native
    * `vector_dot` — same index-ascending double accumulation as the
    * zip_with/aggregate formulation (bit-identical values), one fused
    * codegen loop instead of a per-pair array allocation + boxed
    * lambda walk evaluated |targets|×|attributes| times.
    */
  private[graft] def weatSw(vecs: DataFrame, xLabel: Long, yLabel: Long,
                            aLabel: Long, bLabel: Long,
                            labelCol: String = "label",
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val nrm = sqrt(Similarity.dot(v, v))
    val tgt = vecs.filter(col(labelCol).isin(xLabel, yLabel))
      .select(col(idCol).cast("long").as("w"),
        (col(labelCol) === xLabel).as("is_x"), v.as("wv"), nrm.as("wn"))
    val att = vecs.filter(col(labelCol).isin(aLabel, bLabel))
      .select(col(idCol).cast("long").as("t"),
        (col(labelCol) === aLabel).as("is_a"), v.as("tv"), nrm.as("tn"))
    val cosN = when(col("wn") * col("tn") === 0.0, lit(0L))
      .otherwise(floor(Similarity.dot(col("wv"), col("tv")) /
        (col("wn") * col("tn")) * lit(1e9) + lit(0.5)).cast("long"))
    val nab = att.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).cast("long").as("n_b"))
    tgt.crossJoin(broadcast(att))
      .select(col("w"), col("is_x"), col("is_a"), cosN.as("c"))
      .groupBy("w", "is_x")
      .agg(sum(when(col("is_a"), col("c")).otherwise(0L)).cast("long").as("sa"),
        sum(when(!col("is_a"), col("c")).otherwise(0L)).cast("long").as("sb"))
      .crossJoin(broadcast(nab))
      .select(col("w"), col("is_x"),
        (expr("sa div n_a") - expr("sb div n_b")).as("s"),
        col("n_a"), col("n_b"))
  }

  def weatTest(vecs: DataFrame, xLabel: Long, yLabel: Long,
               aLabel: Long, bLabel: Long, reps: Int = 64,
               labelCol: String = "label", idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(reps >= 1, "need at least one permutation")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val sw = weatSw(vecs, xLabel, yLabel, aLabel, bLabel,
      labelCol, idCol, vecCol).persist()
    val base = sw.agg(
      sum(when(col("is_x"), 1L).otherwise(0L)).cast("long").as("n_x"),
      sum(when(!col("is_x"), 1L).otherwise(0L)).cast("long").as("n_y"),
      first("n_a").as("n_a"), first("n_b").as("n_b"),
      sum(when(col("is_x"), col("s")).otherwise(-col("s")))
        .cast("long").as("s_stat"),
      sum(dec(col("s"))).as("s1"),
      sum(dec(col("s")) * dec(col("s"))).as("s2"),
      sum(when(col("is_x"), col("s")).otherwise(0L)).cast("long").as("sx"),
      sum(when(!col("is_x"), col("s")).otherwise(0L)).cast("long").as("sy"))
    // sign-flip permutations: md5 coin per (w, rep)
    val perms = sw
      .select(col("w"), col("is_x"), col("s"),
        explode(expr(s"sequence(1, $reps)")).as("r"))
      .withColumn("flip", when(
        pmod(conv(substring(md5(concat_ws(":", col("w"),
          col("r").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(2L)) === 0L, lit(1L)).otherwise(lit(-1L)))
      .groupBy("r")
      .agg(sum((when(col("is_x"), lit(1L)).otherwise(lit(-1L)) *
        col("flip") * col("s"))).cast("long").as("sr"))
    val out = perms.crossJoin(broadcast(base))
      .agg(sum(when(abs(col("sr")) >= abs(col("s_stat")), 1L).otherwise(0L))
        .cast("long").as("n_ge"),
        first("n_x").as("n_x"), first("n_y").as("n_y"),
        first("n_a").as("n_a"), first("n_b").as("n_b"),
        first("s_stat").as("s_stat"), first("s1").as("s1"),
        first("s2").as("s2"), first("sx").as("sx"), first("sy").as("sy"))
      .select(col("n_x"), col("n_y"), col("n_a"), col("n_b"),
        col("s_stat").as("s_stat_nano"),
        // d = (x̄ − ȳ) / sd(all s): exact integer moments, one sqrt
        when(
          (col("s2") * (col("n_x") + col("n_y")) - col("s1") * col("s1")) > 0,
          floor((col("sx").cast("double") / col("n_x").cast("double") -
            col("sy").cast("double") / col("n_y").cast("double")) /
            sqrt((col("s2").cast("double") * (col("n_x") + col("n_y"))
              .cast("double") - col("s1").cast("double") *
              col("s1").cast("double")) /
              ((col("n_x") + col("n_y")).cast("double") *
                (col("n_x") + col("n_y")).cast("double"))) *
            lit(1e9) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)).as("effect_nano"),
        expr(s"((n_ge + 1L) * 1000000L) div ${reps + 1}L").as("p_micro"))
      .localCheckpoint()
    sw.unpersist(false)
    out
  }

  /** Kernel two-sample test by MMD²_u (Gretton et al., JMLR'12 "A
    * Kernel Two-Sample Test"): the MULTIVARIATE distribution-equality
    * test the 1-D machinery (ks1 on values, emd1 on histograms)
    * cannot express — are two embedding corpora drawn from the same
    * distribution?  RBF kernel with the paper's median heuristic
    * (σ² = median pairwise squared distance over the pooled sample),
    * unbiased estimator `mean k(x,x') + mean k(y,y') − 2·mean k(x,y)`,
    * significance by md5-deterministic label-REASSIGNMENT permutations
    * (coin-flip approximation of the permutation null, per-rep group
    * sizes renormalized exactly; add-one p — the weat1 discipline).
    *
    * Determinism: both sides are md5-ordered samples of `m` (the
    * pqCodebooks bounded-sample discipline — the kernel matrix is the
    * one quadratic object, so it is BOUNDED by design); pair distances
    * nano-quantize one fixed fold each; the median is an exact rank
    * on quantized integers; kernel terms pico-quantize one fixed
    * double exp each; every mean and permuted statistic is exact
    * integer arithmetic.
    *
    * Scale: the corpus-side cost is the two sample ranks (md5 sort);
    * the (2m)² kernel matrix and the reps × pairs permutation table
    * are sample-bounded, never corpus-bounded.
    */
  /** Lazy m-per-side sample of [[mmdTest]] — per-side top-m via
    * orderBy+limit (TakeOrderedAndProject), NOT a rank window: a
    * Window.partitionBy(is_p) would funnel the whole corpus through at
    * most two tasks; TakeOrdered keeps the scan fully parallel and
    * moves only m rows per side (the m smallest (md5, id) per side).
    * Exposed for the plan-shape gate.
    */
  private[graft] def mmdSample(vecs: DataFrame, isP: Column, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // NULL predicate rows go to the Q side explicitly: the old rank
    // window put them in a third (null) partition and sampled from it;
    // the per-side filter pair would silently DROP them (both
    // filter(is_p) and filter(!is_p) reject NULL) — make the contract
    // visible instead of input-dependent.
    val hashed = vecs.select(col(idCol).cast("long").as("id"),
        coalesce(isP.cast("boolean"), lit(false)).as("is_p"), v.as("vv"))
      .withColumn("h", conv(substring(md5(col("id").cast("string")), 1, 15),
        16, 10).cast("long"))
    hashed.filter(col("is_p"))
      .orderBy(col("h").asc, col("id").asc).limit(m)
      .unionByName(hashed.filter(!col("is_p"))
        .orderBy(col("h").asc, col("id").asc).limit(m))
      .select(col("id"), col("is_p"), col("vv"))
  }

  /** Lazy sample-bounded pair table of [[mmdTest]] — the op's ONE
    * quadratic object, (2m)² by construction. Exposed for the
    * plan-shape gate (the registered mmd1 plan is a trivial
    * localCheckpoint scan — construction materializes the kernel).
    */
  private[graft] def mmdPairTable(base: DataFrame): DataFrame =
    base.select(col("id").as("ia"), col("is_p").as("pa"),
        col("vv").as("va"))
      .join(base.select(col("id").as("ib"), col("is_p").as("pb"),
        col("vv").as("vb")), col("ia") < col("ib"))
      .withColumn("d2_nano", floor(aggregate(
          zip_with(col("va"), col("vb"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x) * lit(1e9) + lit(0.5)).cast("long"))
      .select("ia", "ib", "pa", "pb", "d2_nano")

  def mmdTest(vecs: DataFrame, isP: Column, m: Int = 128, reps: Int = 32,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 2 && reps >= 1, "need m >= 2 and reps >= 1")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = mmdSample(vecs, isP, m, idCol, vecCol).persist()
    val pairs = mmdPairTable(base).persist()
    val np = pairs.count()
    val sigma = pairs
      .withColumn("r", row_number().over(
        Window.orderBy(col("d2_nano").asc, col("ia").asc, col("ib").asc)))
      .filter(col("r") === (np + 1) / 2)
      .select(greatest(col("d2_nano"), lit(1L)).as("sigma2_nano"))
    val k = pairs.crossJoin(broadcast(sigma))
      .withColumn("k_pico", floor(exp(-(col("d2_nano").cast("double") /
        col("sigma2_nano").cast("double"))) * lit(1e12) + lit(0.5))
        .cast("long"))
      .persist()
    def mmdOf(df: DataFrame, fa: Column, fb: Column) = {
      // exact integer means per pair class under endpoint flags fa/fb
      df.agg(
        sum(when(fa && fb, dec(col("k_pico"))).otherwise(dec(lit(0L)))).as("sxx"),
        sum(when(fa && fb, 1L).otherwise(0L)).cast("long").as("nxx"),
        sum(when(!fa && !fb, dec(col("k_pico"))).otherwise(dec(lit(0L)))).as("syy"),
        sum(when(!fa && !fb, 1L).otherwise(0L)).cast("long").as("nyy"),
        sum(when(fa =!= fb, dec(col("k_pico"))).otherwise(dec(lit(0L)))).as("sxy"),
        sum(when(fa =!= fb, 1L).otherwise(0L)).cast("long").as("nxy"))
    }
    val obs = mmdOf(k, col("pa"), col("pb"))
      .select((expr("CAST(sxx div nxx AS BIGINT)") +
        expr("CAST(syy div nyy AS BIGINT)") -
        lit(2L) * expr("CAST(sxy div nxy AS BIGINT)")).as("mmd2_pico"))
    // permutations: md5 coin per (endpoint id, rep) reassigns sides
    val flips = base.select(col("id"))
      .withColumn("r", explode(expr(s"sequence(1, $reps)")))
      .withColumn("f", pmod(conv(substring(md5(concat_ws(":", col("id"),
        col("r").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(2L)) === 0L)
    val withFlags = k
      .join(flips.select(col("id").as("ia"), col("r"), col("f").as("fa")),
        Seq("ia"))
      .join(flips.select(col("id").as("ib2"), col("r").as("rb"),
        col("f").as("fb")),
        col("ib") === col("ib2") && col("r") === col("rb"))
      .select(col("r"), col("fa"), col("fb"), col("k_pico"))
    val perRep = withFlags.groupBy("r")
      .agg(sum(when(col("fa") && col("fb"), dec(col("k_pico")))
          .otherwise(dec(lit(0L)))).as("sxx"),
        sum(when(col("fa") && col("fb"), 1L).otherwise(0L)).cast("long").as("nxx"),
        sum(when(!col("fa") && !col("fb"), dec(col("k_pico")))
          .otherwise(dec(lit(0L)))).as("syy"),
        sum(when(!col("fa") && !col("fb"), 1L).otherwise(0L)).cast("long").as("nyy"),
        sum(when(col("fa") =!= col("fb"), dec(col("k_pico")))
          .otherwise(dec(lit(0L)))).as("sxy"),
        sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L)).cast("long").as("nxy"))
      .filter(col("nxx") > 0L && col("nyy") > 0L && col("nxy") > 0L)
      .select((expr("CAST(sxx div nxx AS BIGINT)") +
        expr("CAST(syy div nyy AS BIGINT)") -
        lit(2L) * expr("CAST(sxy div nxy AS BIGINT)")).as("mmd_r"))
    val counts = base.agg(
      sum(when(col("is_p"), 1L).otherwise(0L)).cast("long").as("m_x"),
      sum(when(!col("is_p"), 1L).otherwise(0L)).cast("long").as("m_y"))
    val out = perRep.crossJoin(broadcast(obs))
      .agg(count(lit(1)).cast("long").as("n_reps_valid"),
        sum(when(col("mmd_r") >= col("mmd2_pico"), 1L).otherwise(0L))
          .cast("long").as("n_ge"),
        first("mmd2_pico").as("mmd2_pico"))
      .crossJoin(broadcast(counts)).crossJoin(broadcast(sigma))
      .select(col("m_x"), col("m_y"), col("sigma2_nano"), col("mmd2_pico"),
        expr("((n_ge + 1L) * 1000000L) div (n_reps_valid + 1L)").as("p_micro"))
      .localCheckpoint()
    base.unpersist(false); pairs.unpersist(false); k.unpersist(false)
    out
  }

  /** Alignment & uniformity of an embedding space (Wang & Isola,
    * ICML'20 — the two-number contrastive-quality decomposition):
    * ALIGNMENT = mean squared distance between normalized POSITIVE
    * pairs (here: consecutive same-label members — lower is better),
    * UNIFORMITY = `ln mean exp(−2‖x̂−ŷ‖²)` over md5-matched RANDOM
    * pairs (more negative = mass spread over the sphere). Together
    * they predict downstream linear-probe quality better than either
    * alone; the embedding-table health check beside [[Pca]] isotropy.
    *
    * Determinism: ‖x̂−ŷ‖² = 2 − 2cos with cosines nano-quantized per
    * pair; alignment is an exact integer mean; uniformity terms are
    * one fixed double exp on the quantized input, pico-quantized
    * before the exact mean, one ln at display. Random pairing is the
    * md5 total order (hex60 of the id), reproducible in SQL.
    *
    * Scale: the positive rank window parallelizes per label; the md5
    * pairing rank is a SALTED two-phase rank (rank within the 2¹⁰
    * top-bit salt buckets + broadcast cumulative offsets — exactly
    * the global (h, id) rank, no single-task corpus window), then one
    * narrow cosine pass per pair table — corpus-linear, no quadratic
    * pair sources anywhere.
    */
  def alignmentUniformity(vecs: DataFrame, labelCol: String = "label",
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v = col(vecCol).cast("array<double>")
    // r16 (§4): native vector_dot for the norm and per-pair folds —
    // identical ascending accumulation, bit-identical values
    val nrm = sqrt(Similarity.dot(v, v))
    val base = vecs.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"), v.as("vv"), nrm.as("vn"))
    def pairUp(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
      df.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("g", expr("(rk - 1L) div 2L"))
        .withColumn("side", expr("(rk - 1L) % 2L"))
    val posRanked = pairUp(base, Window.partitionBy("lbl")
      .orderBy(col("id").asc))
    // salted two-phase rank for the md5 pairing: a global
    // Window.orderBy would funnel the whole corpus through ONE task.
    // Salt on the top 10 bits of h (a PREFIX of the sort key, so
    // (salt, h, id) order == (h, id) order), rank within salt in
    // parallel, then add the broadcast cumulative count of preceding
    // salts — bit-identical to the global rank.
    val rndRanked = {
      val salted = base
        .withColumn("h", conv(substring(md5(col("id").cast("string")), 1, 15),
          16, 10).cast("long"))
        .withColumn("salt", expr("h div 1125899906842624L")) // 2^50: <=1024 salts
      val offs = salted.groupBy("salt")
        .agg(count(lit(1)).cast("long").as("c"))
        .withColumn("off", coalesce(sum("c").over(Window.orderBy("salt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("salt", "off") // <=1024 rows: the only single-task window
      salted.join(broadcast(offs), Seq("salt"))
        .withColumn("rk", row_number().over(Window.partitionBy("salt")
          .orderBy(col("h").asc, col("id").asc)).cast("long") + col("off"))
        .withColumn("g", expr("(rk - 1L) div 2L"))
        .withColumn("side", expr("(rk - 1L) % 2L"))
    }
    def d2Nano(ranked: DataFrame, keyCols: Seq[String]) = {
      val l = ranked.filter(col("side") === 0L)
        .select(keyCols.map(col) :+ col("vv").as("va") :+ col("vn").as("na"): _*)
      val r = ranked.filter(col("side") === 1L)
        .select(keyCols.map(col) :+ col("vv").as("vb") :+ col("vn").as("nb"): _*)
      l.join(r, keyCols)
        .select((when(col("na") * col("nb") === 0.0, lit(2000000000L))
          .otherwise(lit(2000000000L) -
            floor(Similarity.dot(col("va"), col("vb")) /
              (col("na") * col("nb")) * lit(2e9) + lit(0.5)).cast("long")))
          .as("d2_nano"))
    }
    val pos = d2Nano(posRanked, Seq("lbl", "g"))
      .agg(count(lit(1)).cast("long").as("n_pos_pairs"),
        sum(dec(col("d2_nano"))).as("sp"))
    val rnd = d2Nano(rndRanked, Seq("g"))
      .select(col("d2_nano"),
        floor(exp(col("d2_nano").cast("double") / lit(-5e8)) * lit(1e12) +
          lit(0.5)).cast("long").as("term_pico"))
      .agg(count(lit(1)).cast("long").as("n_rand_pairs"),
        sum(dec(col("term_pico"))).as("st"))
    pos.crossJoin(rnd)
      .select(col("n_pos_pairs"), col("n_rand_pairs"),
        expr("CAST(sp div n_pos_pairs AS BIGINT)").as("alignment_nano"),
        floor(log(expr("CAST(st div n_rand_pairs AS BIGINT)")
          .cast("double") / lit(1e12)) * lit(1e9) + lit(0.5)).cast("long")
          .as("uniformity_nano"))
  }

  /** Diagonal Fréchet distance between two embedding populations
    * (the FID construction of Heusel et al. '17 under a diagonal
    * Gaussian approximation): `Σ_d (μP−μQ)² + σP² + σQ² − 2·σPσQ`.
    * Mean drift alone ([[graft.ops.Similarity]] embeddingDrift / ed1)
    * misses a VARIANCE collapse — a generated corpus that sits on the
    * right centroid but has lost diversity scores 0 there and large
    * here; this is the standard generated-vs-real population gap
    * beside mauve1's cell-histogram frontier.
    *
    * Determinism: components nano-quantize before exact integer
    * moment sums; means and population variances are truncating
    * decimal divisions; the one transcendental is a per-dim
    * fixed-form sqrt on exact integer inputs, half-up rounded.
    *
    * Scale: one (side, dim) combinable moment shuffle (a ×dim in-row
    * fan-out of the scan), then dims-bounded arithmetic — the ed1
    * profile plus variances.
    */
  def frechetDiagonal(vecs: DataFrame, isP: Column,
                      vecCol: String = "embedding"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ex = vecs.select(isP.cast("boolean").as("is_p"),
        posexplode(col(vecCol).cast("array<double>")))
      .select(col("is_p"), col("pos").cast("long").as("dim"),
        floor(col("col") * lit(1e9) + lit(0.5)).cast("long").as("x"))
    val m = ex.groupBy("is_p", "dim")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(dec(col("x"))).as("s1"),
        sum(dec(col("x")) * dec(col("x"))).as("s2"))
      .select(col("is_p"), col("dim"),
        col("n"),
        expr("CAST(s1 div n AS BIGINT)").as("mean_nano"),
        // population variance in nano²: (n·S2 − S1²) div n²
        expr("CAST((n * s2 - s1 * s1) div (CAST(n AS DECIMAL(38,0)) * n) " +
          "AS BIGINT)").as("var_nano2"))
    val p = m.filter(col("is_p")).select(col("dim"),
      col("n").as("n_p"), col("mean_nano").as("mp"),
      col("var_nano2").as("vp"))
    val q = m.filter(!col("is_p")).select(col("dim"),
      col("n").as("n_q"), col("mean_nano").as("mq"),
      col("var_nano2").as("vq"))
    p.join(q, "dim")
      .select(col("n_p"), col("n_q"),
        (dec(col("mp") - col("mq")) * dec(col("mp") - col("mq")))
          .as("dm2"),
        col("vp"), col("vq"),
        floor(sqrt(col("vp").cast("double") * col("vq").cast("double")) +
          lit(0.5)).cast("long").as("cross"))
      .agg(first(col("n_p")).as("n_p"), first(col("n_q")).as("n_q"),
        count(lit(1)).cast("long").as("n_dims"),
        sum(col("dm2")).as("mean_term"),
        sum(dec(col("vp")) + dec(col("vq")) - dec(lit(2L)) * dec(col("cross")))
          .as("var_term"))
      .select(col("n_p"), col("n_q"), col("n_dims"),
        // nano² → pico display (div 1e6)
        expr("CAST(mean_term div 1000000 AS BIGINT)").as("mean_term_pico"),
        expr("CAST((CASE WHEN var_term >= 0 THEN var_term div 1000000 " +
          "ELSE -((-var_term) div 1000000) END) AS BIGINT)")
          .as("var_term_pico"),
        expr("""CAST((CASE WHEN mean_term + var_term >= 0
               |  THEN (mean_term + var_term) div 1000000
               |  ELSE -((-(mean_term + var_term)) div 1000000)
               |END) AS BIGINT)""".stripMargin).as("fid_pico"))
  }

  /** Clustering agreement — Adjusted Rand Index (Hubert & Arabie '85)
    * and arithmetic-mean-normalized mutual information — between the
    * label column and a deterministic geometry clustering (the
    * [[graft.ops.Similarity.srpBucket]] sign-random-projection cell,
    * plan-time ±1 hyperplane literals). THE external-validation pair
    * every clustering pipeline reports: ARI is chance-corrected pair
    * agreement, NMI the information overlap; together they audit
    * whether embedding geometry recovers the labeling (the dd13/cl1
    * cluster family's missing eval).
    *
    * Determinism: the contingency table is exact integer counts; pair
    * counts C(x,2) and all ARI rationals are decimal(38,0) with ONE
    * sign-safe truncating display division; each MI/entropy log is a
    * fixed-form double on an exact integer ratio, nano-quantized,
    * then weighted by exact integer cell counts.
    *
    * Scale: ONE corpus pass to the (label, cell) contingency (a
    * combinable count shuffle, cells = labels × 2^nPlanes rows);
    * every margin, entropy and the final report live on that bounded
    * table (the shared cells exchange is reused across branches).
    */
  def clusteringAgreement(vecs: DataFrame, labelCol: String = "label",
                          nPlanes: Int = 2, dim: Int = 64, seed: Long = 7L,
                          vecCol: String = "embedding"): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // C(x, 2) without fractional division: one of x, x−1 is even, so
    // halve THAT factor first and the decimal product stays exact
    def c2(cn: String): Column = expr(
      s"""CASE WHEN $cn % 2 = 0
         |  THEN CAST($cn div 2 AS DECIMAL(38,0)) *
         |    CAST($cn - 1 AS DECIMAL(38,0))
         |  ELSE CAST($cn AS DECIMAL(38,0)) *
         |    CAST(($cn - 1) div 2 AS DECIMAL(38,0))
         |END""".stripMargin)
    val cells = vecs.select(col(labelCol).cast("long").as("la"),
        graft.ops.Similarity.srpBucket(col(vecCol).cast("array<double>"),
          nPlanes, dim, seed).as("lb"))
      .groupBy("la", "lb").agg(count(lit(1)).cast("long").as("nij"))
    val ra = cells.groupBy("la").agg(sum("nij").cast("long").as("ai"))
    val cb = cells.groupBy("lb").agg(sum("nij").cast("long").as("bj"))
    // exactness cap: the ARI display numerator reaches ~n⁴/2 · 1e6,
    // which must fit DECIMAL(38,0) (≈1e38; DuckDB HUGEINT ≈1.7e38) —
    // n⁴/2·1e6 ≤ 1e38 holds up to n ≈ 1.19e8 rows, so cap at 1.1e8;
    // past it, fail loudly (subsample the audit) instead of silently
    // overflowing (Spark non-ANSI would NULL, DuckDB would raise)
    val tot = cells.agg(sum("nij").cast("long").as("n0"),
        count(lit(1)).cast("long").as("n_cells"),
        countDistinct(col("la")).cast("long").as("n_labels"),
        countDistinct(col("lb")).cast("long").as("n_geo_cells"),
        sum(c2("nij")).as("sij"))
      .withColumn("n", when(col("n0") <= lit(110000000L), col("n0"))
        .otherwise(expr("CAST(raise_error(concat('clusteringAgreement: ', " +
          "CAST(n0 AS STRING), ' rows exceed the decimal(38,0) ARI " +
          "exactness cap 1.1e8 (n^4/2*1e6 <= 1e38) — subsample the " +
          "audit')) AS BIGINT)")))
      .drop("n0")
    // per-cell MI terms: l_nano = ln(n*nij / (ai*bj)) on the exact
    // double ratio, weighted by the exact integer nij
    val mi = cells.join(ra, "la").join(cb, "lb")
      .crossJoin(broadcast(tot.select("n")))
      .select((dec(col("nij")) * dec(floor(
          log((col("n").cast("double") * col("nij").cast("double")) /
            (col("ai").cast("double") * col("bj").cast("double"))) *
            lit(1e9) + lit(0.5)).cast("long"))).as("t"))
      .agg(sum(col("t")).as("i_num"))
    def entropy(m: DataFrame, cnt: String) =
      m.crossJoin(broadcast(tot.select("n")))
        .select((dec(col(cnt)) * dec(floor(
            log(col("n").cast("double") / col(cnt).cast("double")) *
              lit(1e9) + lit(0.5)).cast("long"))).as("t"))
        .agg(sum(col("t")).as(s"h_$cnt"))
    val sa = ra.agg(sum(c2("ai")).as("sa"))
    val sb = cb.agg(sum(c2("bj")).as("sb"))
    tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropy(ra, "ai")))
      .crossJoin(broadcast(entropy(cb, "bj")))
      // ARI = [C·Sij − Sa·Sb] / [C·(Sa+Sb)/2 − Sa·Sb], doubled through
      // to stay integral; sign-safe truncation (div truncates toward
      // zero in Spark, // floors in DuckDB — they agree only on
      // non-negatives, so divide magnitudes)
      .withColumn("cc", c2("n"))
      .withColumn("num2", lit(2) * (col("cc") * col("sij") -
        col("sa") * col("sb")))
      .withColumn("den2", col("cc") * (col("sa") + col("sb")) -
        lit(2) * col("sa") * col("sb"))
      .select(col("n"), col("n_labels"), col("n_geo_cells"), col("n_cells"),
        when(col("den2") === 0, lit(0L)).otherwise(
          when(col("num2") >= 0,
            expr("CAST((num2 * 1000000) div den2 AS BIGINT)"))
          .otherwise(-expr("CAST(((-num2) * 1000000) div den2 AS BIGINT)")))
          .as("ari_micro"),
        when(col("h_ai") + col("h_bj") === 0, lit(0L)).otherwise(
          when(col("i_num") >= 0,
            expr("CAST((2 * i_num * 1000000) div (h_ai + h_bj) AS BIGINT)"))
          .otherwise(
            -expr("CAST((2 * (-i_num) * 1000000) div (h_ai + h_bj) AS BIGINT)")))
          .as("nmi_micro"))
  }
}
