package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bulk-iterative graph analytics over edge DataFrames — the second
  * graph family beside [[Dedup.connectedComponents]]. PageRank here is
  * the canonical "fixed-point over a static edge partitioning"
  * workload: the edge set is shuffled ONCE, every iteration reuses that
  * partitioning and exchanges only (node, double) pairs.
  */
object Graph {

  /** Directed handoff edges from an event log: src → dst when dst's
    * event immediately follows src's within the same `streamCol`
    * stream (ties broken by `tieCol`), self-loops dropped, pairs
    * deduplicated. One window pass — the same single-exchange shape as
    * [[Sessions.sessionize]].
    */
  def handoffEdges(events: DataFrame, streamCol: String, keyCol: String,
                   tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("src", lag(col(keyCol), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col(keyCol))
      .select(col("src"), col(keyCol).as("dst"))
      .distinct()
  }

  /** PageRank with uniform teleport and dangling-mass redistribution:
    * `pr' = (1−d)/N + d · (Σ_in pr/outdeg + dangling/N)`, run for a
    * FIXED `iterations` (deterministic output — no float-tolerance
    * convergence test an external oracle would have to reproduce).
    *
    * Scale: `edges` (with out-degrees pre-joined) is persisted and
    * hash-partitioned on `src` once; each iteration is (1) one join of
    * the O(nodes) rank table onto that static partitioning, (2) one
    * combinable sum-shuffle of (dst, contribution) pairs, (3) a scalar
    * dangling-mass aggregate broadcast back. Nothing wide ever carries
    * more than (long, double). Each round's rank table is persisted
    * and re-rooted as a LogicalRDD (the [[Dedup.connectedComponents]]
    * lineage cut) so the analyzer's tree stays O(1)-deep.
    */
  def pageRank(edges: DataFrame, iterations: Int = 8,
               damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    // r16 OPT (§2.4, §1.2): the input subtree persists ONCE. deg/edW/
    // nodes all derive from `ed`; unpersisted, setup re-ran the input
    // pipeline three times — and the per-round dangling-mass aggregate
    // (whose plan contained `deg`, hence the whole input) re-ran it
    // EVERY round. For trk1 the input is a full text-parse + distinct
    // of the co-occurrence pairs: that recompute alone was ~18 s of
    // trk1's 21.3 s at sf0.1.
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = ed.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    // static per-edge state, shuffled once and reused every round
    val edW = ed.join(deg, "src").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r16 OPT (§2.4): nodes carry their dangling flag (no out-edge) so
    // each round's dangling mass rides the round's own materializing
    // action as an observed metric instead of a separate
    // aggregate-and-broadcast per round: 3 jobs/round -> 1 job/round.
    val nodes = ed.select(col("src").as("v")).union(ed.select(col("dst").as("v")))
      .distinct()
      .join(deg.select(col("src").as("v"), lit(true).as("__o")), Seq("v"), "left")
      .select(col("v"), col("__o").isNull.as("dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nr = nodes.agg(count(lit(1)).as("n"),
      sum(when(col("dang"), 1L).otherwise(0L)).as("nd")).head()
    val n = nr.getLong(0).toDouble
    // pr0 is the constant 1/n, so round 1's dangling mass needs no data
    // pass (the old per-round aggregate summed nd copies of 1/n; the
    // product agrees to ~n·ulp, far inside the documented pg1 float
    // caveat absorbed by the gate's 12-significant-digit canon)
    var mass = nr.getLong(1).toDouble * (1.0 / n)

    // Track the PERSISTED originals for unpersist: the loop variable is
    // a shallow copy (LogicalRDD) whose plan never matches the cached
    // original, so unpersisting the copy is a silent no-op that leaks
    // one cached table per round.
    var prCached = nodes.select(col("v"), col("dang"),
        (lit(1.0) / lit(n)).as("pr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var pr = shallow(prCached)
    var prev: DataFrame = null
    for (_ <- 1 to iterations) {
      val contrib = edW.join(pr, edW("src") === pr("v"))
        .groupBy(col("dst").as("cv"))
        .agg(sum(col("pr") / col("od")).as("contrib"))
      // dangling mass for the NEXT round: observed during this round's
      // materializing count — same float-sum ulp class as the old
      // shuffled aggregate, zero extra jobs
      val obs = org.apache.spark.sql.Observation()
      val next = nodes
        .join(contrib, nodes("v") === contrib("cv"), "left")
        .select(nodes("v"), nodes("dang"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + lit(mass / n))).as("pr"))
        .observe(obs, coalesce(sum(when(col("dang"), col("pr"))
          .otherwise(lit(0.0))), lit(0.0)).as("mass"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      mass = obs.get("mass").asInstanceOf[Double]
      if (prev != null) prev.unpersist()
      prev = prCached
      prCached = next
      pr = shallow(next)
    }
    if (prev != null) prev.unpersist()
    edW.unpersist(); nodes.unpersist(); ed.unpersist()
    pr.select(col("v"), col("pr")) // final round stays persisted for the caller
  }

  /** Personalized PageRank (Haveliwala, WWW'02): [[pageRank]] with the
    * teleport AND the dangling mass restarting on a SEED SET instead of
    * uniformly — `pr'(v) = (1−d)·s(v)/|S| + d·(Σ_in pr/outdeg +
    * dangling·s(v)/|S|)` with `s(v) = 1` iff v is a seed. The "random
    * walk with restart" proximity the data-pipeline uses for
    * influence/relatedness FROM a known set (trusted sources, a query's
    * cluster, a contamination origin): mass concentrates near the
    * seeds instead of spreading globally.
    *
    * Seeds are intersected with the graph's node set first (an absent
    * seed cannot hold mass). Same fixed-iteration determinism,
    * once-shuffled static edge partitioning, per-round lineage cut,
    * and persisted-original unpersist discipline as [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 8,
                           damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    // r16 OPT: same restructure as [[pageRank]] — persist the input
    // subtree once, carry the dangling flag on the node table, observe
    // each round's dangling mass during the round's own count (3
    // jobs/round -> 1), teleport/dangling scalars as driver literals.
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = ed.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    val edW = ed.join(deg, "src").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ed.select(col("src").as("v")).union(ed.select(col("dst").as("v")))
      .distinct()
    // seed flag joined once onto the node table; nS is a plan literal
    val flagged = nodes.join(
        seeds.select(col("v").cast("long").as("v"), lit(1.0).as("sflag"))
          .distinct(),
        Seq("v"), "left")
      .join(deg.select(col("src").as("v"), lit(true).as("__o")), Seq("v"), "left")
      .select(col("v"), coalesce(col("sflag"), lit(0.0)).as("sflag"),
        col("__o").isNull.as("dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fr = flagged.agg(
      sum(when(col("sflag") > 0.0, 1L).otherwise(0L)).as("ns"),
      sum(when(col("sflag") > 0.0 && col("dang"), 1L).otherwise(0L)).as("nds"))
      .head()
    val nS = fr.getLong(0).toDouble
    require(nS > 0, "personalizedPageRank: no seed is present in the graph")
    // pr0 = sflag/nS, so round 1's dangling mass is (dangling seeds)/nS
    // — the n·ulp-exact product replacing the old per-round aggregate
    var mass = fr.getLong(1).toDouble * (1.0 / nS)

    var prCached = flagged.select(col("v"), col("sflag"), col("dang"),
        (col("sflag") / lit(nS)).as("pr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var pr = shallow(prCached)
    var prev: DataFrame = null
    for (_ <- 1 to iterations) {
      val contrib = edW.join(pr, edW("src") === pr("v"))
        .groupBy(col("dst").as("cv"))
        .agg(sum(col("pr") / col("od")).as("contrib"))
      val obs = org.apache.spark.sql.Observation()
      val next = flagged
        .join(contrib, flagged("v") === contrib("cv"), "left")
        .select(flagged("v"), flagged("sflag"), flagged("dang"),
          (lit(1.0 - damping) * col("sflag") / lit(nS) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) +
              lit(mass) * col("sflag") / lit(nS))).as("pr"))
        .observe(obs, coalesce(sum(when(col("dang"), col("pr"))
          .otherwise(lit(0.0))), lit(0.0)).as("mass"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      mass = obs.get("mass").asInstanceOf[Double]
      if (prev != null) prev.unpersist()
      prev = prCached
      prCached = next
      pr = shallow(next)
    }
    if (prev != null) prev.unpersist()
    edW.unpersist(); flagged.unpersist(); ed.unpersist()
    pr.select(col("v"), col("pr"))
  }

  /** Synchronous label propagation (Raghavan, Albert, Kumara, Phys.
    * Rev. E'07) for community detection: every node starts labeled
    * with its own id; each round, every node simultaneously adopts the
    * most frequent label among its neighbors, ties broken by the
    * SMALLEST label. Run for a FIXED `iterations` so the output is
    * deterministic (same rationale as [[pageRank]]: no convergence
    * test an external oracle would have to reproduce; synchronous
    * updates + total-order tiebreak make every round a pure function
    * of the last). All decisions are integer — counts and long labels
    * — so the result is exactly reproducible in any engine.
    *
    * Scale: the undirected adjacency is shuffled ONCE and persisted;
    * each round exchanges (node, label, count) triples — O(edges)
    * narrow rows, never text or properties. Per-round lineage cut and
    * unpersist discipline as in [[pageRank]]; interim rounds and the
    * adjacency are unpersisted before returning, the final round's
    * table staying persisted for the caller (the pageRank contract).
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    val dir = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val adj = dir.select(col("src").as("a"), col("dst").as("b"))
      .union(dir.select(col("dst").as("a"), col("src").as("b")))
      .distinct().repartition(col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lab = shallow(adj.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v")).persist(StorageLevel.MEMORY_AND_DISK))
    var prev: DataFrame = null
    for (_ <- 1 to iterations) {
      // r16 note (measured, kept AS-IS): a max_by((c, −lbl)) aggregate
      // in place of the rank window benched slower (2.4–2.8 s vs 2.2 s
      // at sf0.1) — the rn=1 filter already runs under WindowGroupLimit
      // (partial top-1 before the exchange), and the struct max_by's
      // hash-agg state lost to it. Reverted.
      // r16 OPT (§2.4): repartition by a BEFORE the grouped count —
      // hash(a) satisfies the (a, lbl) clustering AND the rank
      // window's partitioning, so the count and the top-1 window share
      // ONE exchange instead of hash(a, lbl) + hash(a) back to back.
      // Same exact counts and the same deterministic (c desc, lbl asc)
      // winner.
      val next = adj.join(lab, adj("b") === lab("v"))
        .repartition(col("a"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("a")).orderBy(col("c").desc, col("lbl").asc)))
        .filter(col("__rn") === 1)
        .select(col("a").as("v"), col("lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      if (prev != null) prev.unpersist()
      prev = lab
      lab = shallow(next)
    }
    if (prev != null) prev.unpersist()
    adj.unpersist()
    lab // final round stays persisted for the caller (pageRank contract)
  }

  /** Exact triangle count + global clustering coefficient via the
    * DEGREE-ORIENTED wedge join (Suri & Vassilvitskii WWW'11 /
    * Cohen's MapReduce formulation): orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, enumerate
    * wedges only at each edge's TAIL, and close them against the
    * oriented edge set.
    *
    * Why this survives skew at 100 TB: a hub of degree d contributes
    * O(d²) wedges in the naive join, but orientation bounds every
    * out-neighborhood by O(√|E|) (a node keeps only neighbors of
    * HIGHER degree), so wedge volume drops from Σd² to O(|E|^{3/2}) —
    * the celebrity-node blow-up disappears structurally, not via
    * sampling. All joins are equi-joins on ids; nothing but
    * (long, long) pairs ever shuffles, and each triangle is counted
    * exactly once (the orientation is a total order, so every triangle
    * has a unique source vertex and a unique closing edge).
    *
    * Returns one row: nodes, edges, wedges (= Σ C(deg, 2), the
    * denominator), triangles, and clustering = 3·tri / wedges.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // deg feeds three consumers and oriented three (wedge x/y sides +
    // closing edge): persist both or every self-join reference re-runs
    // the whole canonicalize+degree pipeline (52 exchanges unpersisted
    // vs a handful with the cuts — the pageRank static-edge pattern)
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    // orient tail -> head by the (deg, id) total order; carry the
    // head's degree so wedge pairs can re-derive the same order
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("t"), col("b").as("h"), col("db").as("dh")))
        .otherwise(struct(col("b").as("t"), col("a").as("h"), col("da").as("dh")))
        .as("e"))
      .select(col("e.t").as("t"), col("e.h").as("h"), col("e.dh").as("dh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.t") === col("y.t") &&
          (col("x.dh") < col("y.dh") ||
            (col("x.dh") === col("y.dh") && col("x.h") < col("y.h"))))
      .select(col("x.h").as("t"), col("y.h").as("h"))
    val tri = wedges.join(oriented.select(col("t"), col("h")), Seq("t", "h"))
      .agg(count(lit(1)).cast("long").as("triangles"))
    val stats = deg.agg(
      count(lit(1)).cast("long").as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
    // materialize the one-row result EAGERLY so both caches can be
    // dropped before returning — without this, repeated calls leak
    // MEMORY_AND_DISK blocks for the session lifetime (pageRank already
    // unpersists each round's prev; same discipline here)
    val result = stats.crossJoin(tri) // two one-row frames
      .withColumn("clustering",
        lit(3.0) * col("triangles").cast("double") / col("n_wedges").cast("double"))
      .localCheckpoint()
    deg.unpersist(false)
    oriented.unpersist(false)
    result
  }

  /** Weisfeiler–Lehman label refinement (Weisfeiler & Lehman 1968; the
    * WL graph kernel of Shervashidze et al., JMLR 2011): start from
    * degree labels, then repeatedly re-label every node with a hash of
    * (own label ‖ sorted neighbor labels). Emits the refinement
    * trajectory — distinct-label count per round (how fast the graph
    * individualizes) — plus an order-free 60-bit graph fingerprint of
    * the final labeling: the cheap isomorphism-invariant signature for
    * graph-level dedup/drift ("did the interaction graph change
    * shape, not just size?").
    *
    * Determinism: labels are 60-bit md5 folds of canonical strings
    * (neighbor lists SORTED before concatenation); the fingerprint is
    * Σ labels mod 2⁶⁰ — order-free exact integers.
    *
    * Scale: each round is one (nb → label) equi-join plus one
    * combinable per-node sorted-list aggregate — (long, long) pairs
    * only, degree-bounded rows, with the pageRank per-round lineage
    * cut. `rounds` is small (WL stabilizes in 2–4 on sparse graphs).
    */
  def wlRefinement(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = und.select(col("a").as("v"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("v"), col("a").as("nb")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lbl = adj.groupBy("v").agg(count(lit(1)).cast("long").as("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r16 OPT (§1.2): each round's materializing action doubles as the
    // trace's distinct-label count (exact integers) — one job per round
    // instead of a count plus a separate distinct-count job
    def countAndDistinct(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"),
        count_distinct(col("lbl")).as("d")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (nNodes, d0) = countAndDistinct(lbl)
    val trace = scala.collection.mutable.ArrayBuffer((0, d0))
    for (r <- 1 to rounds) {
      val next = adj
        .join(lbl.select(col("v").as("nb"), col("lbl").as("nl")), "nb")
        .groupBy("v").agg(sort_array(collect_list(col("nl"))).as("ns"))
        .join(lbl, "v")
        .select(col("v"),
          conv(substring(md5(concat_ws("|", col("lbl").cast("string"),
            array_join(col("ns"), ","))), 1, 15), 16, 10)
            .cast("long").as("lbl"))
      val nxt = shallow(next).persist(StorageLevel.MEMORY_AND_DISK)
      val (_, dr) = countAndDistinct(nxt)
      lbl.unpersist(false)
      lbl = nxt
      trace += ((r, dr))
    }
    val sumDec = lbl.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)
    val fp = (BigInt(sumDec.toBigInteger) mod BigInt(1152921504606846976L))
      .toLong
    adj.unpersist(false); lbl.unpersist(false)
    import spark.implicits._
    trace.toSeq.toDF("round", "n_labels")
      .withColumn("n_nodes", lit(nNodes))
      .withColumn("graph_fp", lit(fp))
      .select(col("round").cast("long").as("round"), col("n_labels"),
        col("n_nodes"), col("graph_fp"))
  }

  /** Pico-quantized Adamic–Adar weights `floor(1e12/ln(d) + 0.5)` for
    * d = 2..maxDegree — DRIVER-COMPUTED literals shared verbatim with
    * the oracle (the benfordExpected discipline: no engine evaluates a
    * log in the data path).
    */
  def adamicAdarWeights(maxDegree: Int): Seq[Long] =
    (2 to maxDegree).map(d => math.floor(1e12 / math.log(d.toDouble) + 0.5).toLong)

  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003)
    * — score every NON-edge pair (u,v) by `Σ_{w ∈ N(u)∩N(v)} 1/ln d(w)`
    * (rare shared neighbors count more), the classic "who should be
    * connected next" / entity-merge-candidate ranking.
    *
    * Hub cap: wedges only form through common neighbors with
    * `2 ≤ deg(w) ≤ maxDegree`. That is the standard scale bound — a
    * degree-D hub alone would emit D(D−1)/2 pairs, and its ln-weight
    * is the smallest anyway, so capping bounds the wedge explosion at
    * |E|·maxDegree while barely moving the ranking.
    *
    * Determinism: weights come from the [[adamicAdarWeights]] literal
    * array indexed by integer degree; per-pair scores are exact pico
    * sums; the top-k boundary orders by (score_pico, u, v) — all
    * integers.
    *
    * Scale: canonical edge table persists once; wedge enumeration is
    * an ids-only self-equi-join on the capped adjacency (long triples),
    * combinable pair aggregation, anti-join against existing edges,
    * then TakeOrdered for the top-k — no global sort, no text.
    */
  def adamicAdar(edges: DataFrame, maxDegree: Int = 64,
                 topK: Int = 20): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = und.select(col("a").as("w"), col("b").as("x"))
      .unionAll(und.select(col("b").as("w"), col("a").as("x")))
    val deg = adj.groupBy("w").agg(count(lit(1)).cast("int").as("deg"))
    val wArr = array(adamicAdarWeights(maxDegree).map(lit(_)): _*)
    val mid = adj.join(deg, "w")
      .filter(col("deg") >= 2 && col("deg") <= maxDegree)
      .withColumn("wq", element_at(wArr, col("deg") - 1))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = mid.as("l").join(mid.as("r"),
        col("l.w") === col("r.w") && col("l.x") < col("r.x"))
      .select(col("l.x").as("u"), col("r.x").as("v"), col("l.wq").as("wq"))
      .groupBy("u", "v")
      .agg(count(lit(1)).cast("long").as("n_common"),
        sum("wq").cast("long").as("score_pico"))
    val novel = pairs.join(und,
      pairs("u") === und("a") && pairs("v") === und("b"), "left_anti")
    val result = novel
      .orderBy(col("score_pico").desc, col("u"), col("v")).limit(topK)
      .select(col("u"), col("v"), col("n_common"),
        round(col("score_pico").cast("double") / 1e12, 6).as("score"))
      .localCheckpoint() // topK rows; lets both caches drop (gr2 discipline)
    und.unpersist(false)
    mid.unpersist(false)
    result
  }

  /** k-core decomposition by synchronous peeling (Seidman, Social
    * Networks 1983; the Batagelj–Zaveršnik bulk variant): each round
    * simultaneously removes every node whose degree in the CURRENT
    * subgraph is < k, for a FIXED `rounds` (deterministic output, no
    * fixpoint test an oracle would have to reproduce — on bounded-
    * degeneracy graphs peeling converges in a handful of rounds, and a
    * converged round is a no-op). The graph-quality filter behind
    * "drop the spam fringe, keep the dense interaction core".
    *
    * Output: nodes still carrying an edge after the last round, with
    * their degree in that final subgraph. All decisions are integer
    * degree counts — exactly reproducible in any engine.
    *
    * Scale: edges canonicalize to undirected (lo, hi) pairs once; each
    * round is one combinable degree count (node, long) and two
    * semi-joins of the edge table against the surviving-node set —
    * O(edges) narrow rows per round, text/properties never move.
    * Per-round lineage cut + unpersist discipline as in [[pageRank]].
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    var cur = shallow(edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    var curCount = cur.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val deg = cur.select(col("a").as("v")).union(cur.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
      val keep = deg.filter(col("deg") >= k).select("v")
      val next = cur
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextCount = next.count()
      // peeling only ever REMOVES edges, so an unchanged count IS the
      // fixpoint — every remaining round would be a no-op (which is
      // exactly why the fixed-round oracle still matches: its extra
      // rounds change nothing)
      converged = nextCount == curCount
      cur.unpersist(false)
      cur = shallow(next)
      curCount = nextCount
      round += 1
    }
    val out = cur.select(col("a").as("v")).union(cur.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("core_deg"))
      .localCheckpoint()
    cur.unpersist(false)
    out
  }

  /** Newman modularity Q of a partition over an UNDIRECTED edge list
    * (Newman & Girvan 2004): Q = Σ_c [ e_c/m − (d_c/2m)² ] — the
    * clustering-quality score that says whether a community structure
    * (kg1's mutual-kNN components, label propagation, …) beats random
    * wiring (Q ≈ 0) or is genuinely assortative (Q → 1). One row:
    * (n_edges, n_clusters, modularity).
    *
    * Scale: two ids-only joins (edge endpoints → clusters), one degree
    * count and one per-cluster aggregate — everything after the input
    * edge list carries (long, long) pairs; Q itself reduces
    * cluster-count-many exact integer cells in fixed-order doubles.
    *
    * `edges` columns d1/d2 (one row per undirected edge);
    * `clusters` columns v/cluster ([[graft.ops.Dedup.connectedComponents]] output).
    */
  def modularity(edges: DataFrame, clusters: DataFrame): DataFrame = {
    val mtot = broadcast(edges.agg(count(lit(1)).cast("long").as("m")))
    val directed = edges.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(edges.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = directed.groupBy(col("src").as("dv"))
      .agg(count(lit(1)).cast("long").as("d"))
    val ca = clusters.select(col("v").as("va"), col("cluster").as("cla"))
    val cb = clusters.select(col("v").as("vb"), col("cluster").as("clb"))
    val ein = edges
      .join(ca, col("d1") === col("va"))
      .join(cb, col("d2") === col("vb"))
      .filter(col("cla") === col("clb"))
      .groupBy(col("cla").as("cluster"))
      .agg(count(lit(1)).cast("long").as("ec"))
    val dsum = clusters.join(deg, col("v") === col("dv"), "left")
      .groupBy(col("cluster"))
      .agg(sum(coalesce(col("d"), lit(0L))).cast("long").as("dc"))
    val md = col("m").cast("double")
    dsum.join(ein, Seq("cluster"), "left").crossJoin(mtot)
      .select(col("cluster"),
        (coalesce(col("ec"), lit(0L)).cast("double") / md -
          (col("dc").cast("double") / (lit(2.0) * md)) *
            (col("dc").cast("double") / (lit(2.0) * md))).as("__q"),
        col("m"))
      .groupBy(col("m").as("n_edges"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum(col("__q")).as("modularity"))
      .select(col("n_edges"), col("n_clusters"), col("modularity"))
  }

  /** Steady-state distribution of the first-order Markov chain defined
    * by observed transitions — `x' = xP` power-iterated a FIXED number
    * of rounds from uniform, with P the row-normalized transition
    * counts. The "what mix does this event stream converge to" summary
    * (and the detector for absorbing states dominating a funnel), the
    * stochastic-matrix sibling of [[pageRank]] without teleport.
    *
    * Determinism: the state vector is carried in pico-unit longs and
    * every term is `x_i · n_ij / n_i` in exact integer floor
    * arithmetic, so all rounds are reproducible cross-engine (the
    * bradleyTerry contract). States with no outgoing transitions leak
    * their mass (substochastic iteration) — deliberately, identically
    * on both engines: a true absorbing state shows up as the leak.
    *
    * Scale: the ONLY corpus-sized pass is the combinable (prev, next)
    * count shuffle; the matrix is states²-bounded (≤ `maxStates`²,
    * enforced) and iterates driver-side in microseconds.
    */
  def markovSteady(transitions: DataFrame, prevCol: String, nextCol: String,
                   iters: Int = 12, maxStates: Int = 64): DataFrame = {
    val spark = transitions.sparkSession
    val m = transitions.groupBy(col(prevCol).as("p"), col(nextCol).as("t"))
      .agg(count(lit(1)).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = m.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    require(states.length <= maxStates,
      s"markovSteady: ${states.length} states exceed the bounded-collect " +
        s"cap $maxStates — bucket the state column first")
    val outTot = m.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val S = 1000000000000L
    var x = states.map(_ -> S / states.length).toMap
    for (_ <- 1 to iters) {
      val next = scala.collection.mutable.Map(states.map(_ -> 0L): _*)
      for ((i, j, n) <- m) next(j) += x(i) * n / outTot(i)
      x = next.toMap
    }
    import spark.implicits._
    states.toSeq.map { st =>
      (st, outTot.getOrElse(st, 0L), x(st) / 1e12)
    }.toDF("state", "n_out", "p_steady")
  }

  /** Bounded-hop BFS distances from a seed set: each round relaxes
    * `h(v) = min(h(v), min_{u→v} h(u) + 1)` synchronously, so after
    * `rounds` rounds the table holds exact ≤`rounds`-hop shortest
    * distances (unreached nodes are absent) — the neighborhood-
    * expansion primitive behind influence/contamination radius audits
    * ("which users/documents sit within k referral hops of a flagged
    * seed") on the same event-handoff graphs the pg1/lp1 family uses.
    *
    * Determinism: distances are exact longs and min is order-free —
    * every round is a pure integer function of the last, which the
    * oracle replays as unrolled CTEs.
    *
    * Scale: edges shuffle once and persist; each round exchanges
    * (node, hop) pairs — O(frontier edges) narrow rows. Per-round
    * lineage cut + unpersist as in [[pageRank]]; `rounds` is a fixed
    * small constant, so the plan depth is bounded.
    */
  def kHopDistances(edges: DataFrame, seeds: DataFrame,
                    rounds: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = shallow(seeds.select(col("v").cast("long"))
      .distinct().withColumn("h", lit(0L))
      .persist(StorageLevel.MEMORY_AND_DISK))
    var prev: DataFrame = null
    for (_ <- 1 to rounds) {
      val prop = ed.join(dist, ed("src") === dist("v"))
        .select(col("dst").as("v"), (col("h") + 1).as("h"))
      val next = dist.unionByName(prop)
        .groupBy("v").agg(min("h").as("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      if (prev != null) prev.unpersist()
      prev = dist
      dist = shallow(next)
    }
    ed.unpersist()
    dist
  }

  /** Local-clustering-coefficient distribution (Watts–Strogatz 1998):
    * per node `lcc = 2·tri_v / (deg_v·(deg_v−1))`, rolled up as a
    * 10-bucket histogram plus the mean — the "is this graph cliquey or
    * tree-like, and WHERE" readout that the single global number from
    * [[triangleStats]] cannot give.
    *
    * Determinism: per-node triangle counts come from the same
    * degree-oriented wedge closure as [[triangleStats]] (each closed
    * triangle charges all three vertices — exact longs); lcc
    * pico-quantizes by integer floor-division, bucket = min(⌊10·lcc⌋,
    * 9) in pure integer arithmetic. Nodes of degree < 2 have no
    * defined lcc and are excluded (their count is derivable from
    * kc1/gr2's node totals).
    *
    * Scale: the oriented closure bounds every wedge list by the
    * arboricity (the gr2 argument); the per-node charge is a narrow
    * 3-way union + combinable count; `2·tri_v·10¹²` must fit a long —
    * ≤4·10⁵ triangles through one node (rescale to nano beyond).
    */
  def localClusteringHistogram(edges: DataFrame): DataFrame = {
    val (out0, pins) = localClusteringHistogramCore(edges)
    val out = out0.localCheckpoint() // <= 10 rows; lets every cache drop
    pins.foreach(_.unpersist(false))
    out
  }

  /** The lazy core of [[localClusteringHistogram]]: returns the
    * histogram frame pre-localCheckpoint plus the internal pins to
    * release once it materializes.
    */
  private def localClusteringHistogramCore(
      edges: DataFrame): (DataFrame, Seq[DataFrame]) = {
    // r16 (§1.2): und feeds TWO consumers — the degree table and the
    // degree-annotated orientation join — and nothing between them
    // shares an exchange, so the upstream lag-window + distinct edge
    // pass ran twice. Pinning the (a, b) long pairs (edge-set-sized,
    // narrow) halves the input work.
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).cast("long").as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("t"), col("b").as("h"), col("db").as("dh")))
        .otherwise(struct(col("b").as("t"), col("a").as("h"), col("da").as("dh")))
        .as("e"))
      .select(col("e.t").as("t"), col("e.h").as("h"), col("e.dh").as("dh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.t") === col("y.t") &&
          (col("x.dh") < col("y.dh") ||
            (col("x.dh") === col("y.dh") && col("x.h") < col("y.h"))))
      .select(col("x.t").as("c"), col("x.h").as("t"), col("y.h").as("h"))
    val tris = wedges.join(oriented.select(col("t"), col("h")), Seq("t", "h"))
    val perNode = tris.select(col("c").as("v"))
      .unionAll(tris.select(col("t").as("v")))
      .unionAll(tris.select(col("h").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("tri"))
    val lcc = deg.filter(col("deg") >= 2L)
      .join(perNode, Seq("v"), "left")
      .select(col("v"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_pico",
        expr("(2L * tri * 1000000000000L) div (deg * (deg - 1L))"))
      .withColumn("bucket",
        least(expr("lcc_pico div 100000000000L"), lit(9L)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val summary = lcc.agg(
      count(lit(1)).cast("long").as("n_defined"),
      sum(col("lcc_pico").cast("decimal(38,0)")).as("sp"))
      .select(col("n_defined"),
        round(col("sp").cast("double") / col("n_defined").cast("double") / 1e12, 9)
          .as("mean_lcc"))
    val out = lcc.groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      .crossJoin(broadcast(summary))
      .select(col("bucket"), col("n_nodes"), col("n_defined"), col("mean_lcc"))
    (out, Seq(und, deg, oriented, lcc))
  }

  /** HITS hubs & authorities (Kleinberg, JACM'99) with L1
    * normalization, run for a FIXED `iterations` (deterministic — no
    * convergence tolerance an oracle would have to reproduce): each
    * round `a(v) = Σ_{u→v} h(u)` then `h(u) = Σ_{u→v} a(v)`, each
    * rescaled to sum 1. The directed complement to [[pageRank]] —
    * "who routes attention" (hubs) vs "who receives it" (authorities).
    *
    * Scale: identical machinery to [[pageRank]] — the edge set is
    * shuffled ONCE onto a static partitioning; every iteration is two
    * O(nodes)-table joins onto it, two combinable sum-shuffles, and
    * two 1-row normalizer aggregates broadcast back in-plan (no
    * driver-side collect). Per-round lineage cut + unpersist keeps the
    * analyzer tree O(1)-deep. Zero-valued nodes add exact 0.0 to the
    * normalizers, so dangling structure cannot perturb the sums.
    */
  def hits(edges: DataFrame, iterations: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = ed.select(col("src").as("v")).union(ed.select(col("dst").as("v")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)

    // r16 note (measured, kept AS-IS): a rewrite that collected each
    // leg's L1 normalizer with a driver head() and rescaled via literal
    // projection benched SLOWER (4.6 s vs 3.8 s at sf0.1) — the in-plan
    // broadcast builds run async on the exchange thread pool and
    // ReuseExchange already dedupes the leg subtree under the
    // normalizer, so the "redundant" compute never existed, while the
    // extra synchronous action per leg cost real wall-clock. Reverted.
    def normalized(raw: DataFrame, vc: String, out: String): DataFrame = {
      val full = nodes.join(raw, nodes("v") === raw(vc), "left")
        .select(nodes("v"), coalesce(col("__r"), lit(0.0)).as("__r"))
      val tot = full.agg(sum(col("__r")).as("__t"))
      full.crossJoin(broadcast(tot))
        .select(col("v"), (col("__r") / col("__t")).as(out))
    }

    // Track the PERSISTED originals (not the shallow LogicalRDD copies)
    // for unpersist — same leak mode as the pageRank fix above.
    var hubCached = nodes.withColumn("h", lit(1.0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var hub = shallow(hubCached)
    var auth: DataFrame = null
    var authCached: DataFrame = null
    var prevH: DataFrame = null
    var prevA: DataFrame = null
    for (_ <- 1 to iterations) {
      // a is materialized transitively by h's count (it sits under h's
      // plan and is persisted) — one action per round, the pg1 budget
      val a = normalized(
        ed.join(hub, ed("src") === hub("v"))
          .groupBy(col("dst").as("av")).agg(sum(col("h")).as("__r")),
        "av", "a").persist(StorageLevel.MEMORY_AND_DISK)
      val h = normalized(
        ed.join(a, ed("dst") === a("v"))
          .groupBy(col("src").as("hv")).agg(sum(col("a")).as("__r")),
        "hv", "h").persist(StorageLevel.MEMORY_AND_DISK)
      h.count()
      if (prevH != null) prevH.unpersist()
      if (prevA != null) prevA.unpersist()
      prevH = hubCached; prevA = authCached
      hubCached = h; authCached = a
      hub = shallow(h); auth = shallow(a)
    }
    if (prevH != null) prevH.unpersist()
    if (prevA != null) prevA.unpersist()
    val out = hub.join(auth.withColumnRenamed("v", "va"),
        hub("v") === col("va"))
      .select(col("v"), col("h").as("hub"), col("a").as("authority"))
    ed.unpersist(); nodes.unpersist() // final round's legs stay persisted for the caller
    out
  }

  /** Degree assortativity (Newman, PRL'02): the Pearson correlation of
    * endpoint degrees over every undirected edge, both orientations —
    * r > 0 means hubs link to hubs (social nets), r < 0 means hubs
    * link to leaves (hub-and-spoke infrastructure). The one-number
    * structural fingerprint complementing [[triangleStats]].
    *
    * Determinism: degrees are exact longs; the symmetric double-count
    * makes Σx = Σy and Σx² = Σy², so r reduces to exact decimal
    * moments with ONE double division at the end.
    *
    * Scale: degree table is nodes-sized, joined twice onto the edge
    * list (narrow (long, long) rows), one combinable moment aggregate.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = deg.count()
    val pairs = und
      .join(deg.select(col("v").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("dy")), "b")
      .select(col("dx"), col("dy"))
    val both = pairs.unionByName(
      pairs.select(col("dy").as("dx"), col("dx").as("dy")))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = both.agg(
      count(lit(1)).cast("long").as("m"),
      sum(dec(col("dx"))).as("sx"),
      sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
      sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
    // degree-REGULAR graphs (every endpoint degree equal — e.g. a
    // complete graph) have zero degree variance: assortativity is
    // undefined and reported as 0.0 (the spearmanRho zero-variance
    // convention). Without the guard, ANSI Spark throws DIVIDE_BY_ZERO
    // on the 0/0 — a latent edge the sf0.01 gate never hits but the
    // sf0.001 handoff graph (complete K15) does.
    val out = m.select(
      lit(nNodes).as("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
      when(dec(col("m")) * col("sxx") - col("sx") * col("sx") ===
          dec(lit(0L)), lit(0.0))
        .otherwise(round((col("m").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
          (col("m").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 9))
        .as("assortativity"))
    val r = out.localCheckpoint() // 1 row; lets both caches drop
    und.unpersist(false); deg.unpersist(false)
    r
  }

  /** Spectral bipartition (Fiedler '73; Shi & Malik, PAMI 2000
    * normalized-cut form): power iteration for the SECOND eigenvector
    * of the random-walk matrix `P = D⁻¹A` on the undirected graph,
    * with the trivial all-ones eigenvector deflated by the D-weighted
    * mean each round (P is self-adjoint in the D inner product, so
    * that projection is exact deflation); the sign pattern of the
    * result is the 2-way normalized-cut partition, reported with cut
    * size and conductance `cut / min(vol(S), vol(S̄))` — THE spectral
    * clustering primitive, and the graph complement of the embedding
    * k-means family (clusters from CONNECTIVITY, not geometry).
    *
    * Determinism: the mk1/bt1 integer-iteration discipline — state is
    * nano-unit longs; each round is (exact neighbor sum) div degree,
    * minus the exact D-weighted mean, rescaled to max|x| = 1e9 by one
    * floor division; eigenvector sign ambiguity is pinned by flipping
    * so the smallest node id lands non-negative. Both engines replay
    * bit-identically (the oracle unrolls the rounds as CTEs).
    *
    * Scale: undirected edges shuffle once and persist; each round
    * exchanges (node, long) pairs with two scalar broadcasts — the
    * [[pageRank]] fixed-point shape, per-round lineage cut included.
    * Rounds early-exit at the first ±-stable iteration — the
    * nonnegative-sign set's (count, Σv, Σv²) fingerprint reproduced
    * exactly OR exactly complemented (a negative second eigenvalue
    * makes the deflated iteration oscillate ±v; the s0 pin makes both
    * the same partition) — capped at `iterations`. The fingerprint
    * comparison is join-free: one aggregate that doubles as each
    * round's materializing action. `rounds_used` is emitted and the
    * oracle replays the identical fingerprint rule, so the exit round
    * itself is value-gated.
    */
  /** Lazy building blocks of [[spectralBipartition]], exposed so the
    * plan-shape gate can golden-pin one round's pure plan (the
    * registered query's own plan is a trivial localCheckpoint scan —
    * the driver loop materializes every round). `pin` is how
    * intermediates the loop re-reads get persisted; the fragment
    * passes identity so nothing registers in the CacheManager.
    */
  private[graft] def spectralParts(edges: DataFrame,
      pin: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val S = 1000000000L
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val dir = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val und = pin(dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")))
    val deg = pin(und.groupBy(col("dst").as("v"))
      .agg(count(lit(1)).cast("long").as("d")))
    val vol = deg.agg(sum(dec(col("d"))).as("volt"))
    val x0 = deg.select(col("v"),
      when(pmod(col("v"), lit(2L)) === 0L, lit(S)).otherwise(lit(-S)).as("x"))
    (und, deg, vol, x0)
  }

  /** One power-iteration round of [[spectralBipartition]]: returns
    * (y, next) — y is `pin`ned because both the stats pass and the
    * rescale read it (the 3x-per-round recompute that made the first
    * cut of this op 24 s at sf0.1).
    *
    * r16 note (measured, kept AS-IS): a rewrite that collected the
    * stats row (and the round-invariant vol) as driver literals and
    * rescaled via a literal projection benched SLOWER (9.2 s vs 8.2 s
    * at sf0.1) — the loop already runs ONE synchronous action per round
    * (the fingerprint aggregate); the stats/vol broadcasts build async
    * under it, and the rewrite's second synchronous head() per round
    * cost more than the broadcasts it removed. Reverted.
    */
  private[graft] def spectralRound(und: DataFrame, deg: DataFrame,
      volt: org.apache.spark.sql.Column, x: DataFrame,
      pin: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val S = 1000000000L
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val y = pin(und.join(x, und("src") === x("v"))
      .groupBy(und("dst").as("v"))
      .agg(sum(dec(col("x"))).as("sx"))
      .join(deg, "v")
      .select(col("v"), col("d"), expr("CAST(sx div d AS BIGINT)").as("y")))
    // ONE stats pass: the D-weighted mean plus max|y − m| via the
    // exact identity max|y − m| = max(max(y) − m, m − min(y)).
    // volt (the total degree volume) is ROUND-INVARIANT, so it arrives
    // as a driver literal collected once before the loop (r16: the old
    // in-plan crossJoin(broadcast(vol)) re-aggregated deg and rebuilt
    // the broadcast every round — 2 AQE stage jobs/round for a
    // constant; same exact decimal, same div).
    val stats = y
      .agg(sum(dec(col("d")) * dec(col("y"))).as("sdy"),
        max(col("y")).as("maxy"), min(col("y")).as("miny"))
      .select(col("sdy"), volt.as("vt"), col("maxy"), col("miny"))
      .select(expr("CAST(sdy div vt AS BIGINT)").as("m"),
        col("maxy"), col("miny"))
      .select(col("m"), greatest(col("maxy") - col("m"),
        col("m") - col("miny"), lit(1L)).as("mx"))
    val next = y.crossJoin(broadcast(stats))
      .select(col("v"),
        expr(s"CAST(((y - m) * ${S}L) div mx AS BIGINT)").as("x"))
    (y, next)
  }

  def spectralBipartition(edges: DataFrame, iterations: Int = 12): DataFrame = {
    val spark = edges.sparkSession
    def shallow(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val pinP: DataFrame => DataFrame = _.persist(StorageLevel.MEMORY_AND_DISK)
    val (und, deg, vol, x0) = spectralParts(edges, pinP)
    // volt is round-invariant: collect it once (deg is pinned, this is
    // one tiny aggregate) and feed every round the exact decimal as a
    // plan literal — see the spectralRound comment (r16)
    val voltLit = lit(vol.head().getDecimal(0)).cast("decimal(38,0)")
    var xCached = pinP(x0)
    var x = shallow(xCached)
    // convergence early-exit bookkeeping: the OUTPUT depends only on
    // the PINNED sign pattern (s0 flips the global sign), so a round
    // whose nonnegative-sign set reproduces the previous round's — or
    // is its EXACT complement (the negative-eigenvalue ±v oscillation
    // the pin absorbs) — means the partition is final. The sets are
    // compared by the (count, Σv, Σv²) fingerprint: ONE aggregate
    // over the new x that doubles as the round's materializing action
    // (it scans every partition, filling the persist) — no per-round
    // join, no extra job vs the plain count it replaces. The oracle
    // replays the identical fingerprint rule, and rounds_used is
    // value-gated, so a (vanishingly unlikely) fingerprint collision
    // cannot split the engines — the freeze rule IS the semantics.
    val decC = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    def fpAgg(df: DataFrame) = df.agg(
      count(lit(1)).cast("long").as("n"),
      coalesce(sum(when(col("x") >= 0L, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("cp"),
      coalesce(sum(when(col("x") >= 0L, decC(col("v")))
        .otherwise(decC(lit(0L)))), decC(lit(0L))).as("sv"),
      coalesce(sum(when(col("x") >= 0L, decC(col("v")) * decC(col("v")))
        .otherwise(decC(lit(0L)))), decC(lit(0L))).as("sq"),
      coalesce(sum(decC(col("v"))), decC(lit(0L))).as("svall"),
      coalesce(sum(decC(col("v")) * decC(col("v"))), decC(lit(0L)))
        .as("sqall")).head()
    def fpOf(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("cp"), r.getAs[java.math.BigDecimal]("sv"),
        r.getAs[java.math.BigDecimal]("sq"))
    val fp0 = fpAgg(x)
    val (nTot, svAll, sqAll) = (fp0.getAs[Long]("n"),
      fp0.getAs[java.math.BigDecimal]("svall"),
      fp0.getAs[java.math.BigDecimal]("sqall"))
    var prevFp = fpOf(fp0)
    var prev: DataFrame = null
    var roundsUsed = 0
    var converged = false
    while (roundsUsed < iterations && !converged) {
      val (y, next0) = spectralRound(und, deg, voltLit, x, pinP)
      val next = pinP(next0)
      roundsUsed += 1
      val fr = fpAgg(next)
      y.unpersist(false)
      val cur = fpOf(fr)
      val comp = (nTot - prevFp._1, svAll.subtract(prevFp._2),
        sqAll.subtract(prevFp._3))
      if (cur._1 == prevFp._1 && cur._2.compareTo(prevFp._2) == 0 &&
          cur._3.compareTo(prevFp._3) == 0) converged = true
      else if (cur._1 == comp._1 && cur._2.compareTo(comp._2) == 0 &&
          cur._3.compareTo(comp._3) == 0) converged = true
      prevFp = cur
      if (prev != null) prev.unpersist()
      prev = xCached
      xCached = next
      x = shallow(next)
    }
    // pin the eigenvector sign: smallest node id non-negative
    val s0 = x.orderBy("v").limit(1)
      .select(when(col("x") < 0L, lit(-1L)).otherwise(lit(1L)).as("flip"))
    val sided = x.crossJoin(broadcast(s0))
      .select(col("v"), (col("x") * col("flip") >= 0L).as("pos"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    sided.count()
    val sides = sided.join(deg, "v")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).cast("long").as("n_neg"),
        sum(when(col("pos"), col("d")).otherwise(0L)).cast("long").as("vol_pos"),
        sum(when(!col("pos"), col("d")).otherwise(0L)).cast("long").as("vol_neg"))
    val cut = und.filter(col("src") < col("dst"))
      .join(sided.select(col("v").as("src"), col("pos").as("ps")), "src")
      .join(sided.select(col("v").as("dst"), col("pos").as("pd")), "dst")
      .agg(sum(when(col("ps") =!= col("pd"), 1L).otherwise(0L)).cast("long")
        .as("cut_edges"))
    val out = sides.crossJoin(cut)
      .select(col("n_pos"), col("n_neg"), col("vol_pos"), col("vol_neg"),
        col("cut_edges"),
        expr("""CASE WHEN least(vol_pos, vol_neg) = 0 THEN 0
               |  ELSE (cut_edges * 1000000000L) div least(vol_pos, vol_neg)
               |END""".stripMargin).as("conductance_nano"),
        lit(roundsUsed.toLong).as("rounds_used"))
      .localCheckpoint()
    if (prev != null) prev.unpersist()
    xCached.unpersist(); sided.unpersist(); und.unpersist(); deg.unpersist()
    out
  }
}
