package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Text

/** Structural plan audits — the properties that make queries survive a
  * 100× scale-up are asserted on the physical/optimized plans, not just
  * observed in `.explain` output during review.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def withAqeOff[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("column pruning reaches the scan: h1 reads only its 5 needed lineitem columns") {
    val q = PlanFixtures.queries("h1_pricing_summary")(spark, sf)
    val scans = withAqeOff(q.queryExecution.executedPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f
    })
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"),
      s"scan reads $readCols")
  }

  test("filter pushdown reaches the scan: a pushed predicate appears in the scan metadata") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40).select("l_orderkey")
    val scan = withAqeOff(df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }).get
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity"),
      s"PushedFilters = ${scan.metadata("PushedFilters")}")
  }

  test("tx6 TF-IDF vocab join carries no forced broadcast (unbounded vocabulary)") {
    // the planner may still CHOOSE broadcast from size estimates (fine —
    // estimates grow with the corpus and flip it to sort-merge at scale);
    // what must not exist is a HINT forcing broadcast of the vocab side
    // regardless of size. The one-row n_docs scalar is the only
    // legitimate hint.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hints = Text.topTfidfTerms(docs, k = 3)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints.size === 1,
      s"expected only the scalar n_docs broadcast hint, found ${hints.size}")
    // and that sole hinted subtree is the single-row scalar, not the vocab
    assert(hints.head.child.schema.fieldNames.toSeq === Seq("n_docs"))
  }

  test("flagship j1 plan stays at 3 exchanges (2 dedup windows + final sort)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = SparkEntry.queries("j1_flagship_upsert")(spark, sf)
    val exchanges = withAqeOff(q.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    })
    // the union's latest-wins window must reuse the children's
    // co-partitioning — a 4th exchange means that reuse regressed
    assert(exchanges.size <= 3,
      s"flagship merge grew to ${exchanges.size} exchanges")
  }

  test("broadcast dims: h4 joins supplier and nation via broadcast, not shuffle") {
    val q = PlanFixtures.queries("h4_top_suppliers")(spark, sf)
    val plan = withAqeOff(q.queryExecution.executedPlan)
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size >= 2, "both dim tables must arrive by broadcast")
  }

  test("chunking is shuffle-free: cur5's plan contains no exchange at all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(
      graft.ops.Curate.chunkDocs(docs).queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"chunking must be a narrow map+explode, found ${exchanges.size} exchanges")
  }

  test("decontamination broadcasts the benchmark shingles, never the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Curate.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
      .queryExecution.executedPlan)
    // the join that matters is the SHINGLE join (string keys): its
    // build side must be the benchmark (filter doc_id % 97 = 0,
    // un-negated). The later id-count left-join may also broadcast its
    // small aggregated side — planner-chosen from estimates, fine.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.StringType
    val shingleJoins = plan.collect { case j: BroadcastHashJoinExec
        if j.leftKeys.headOption.exists(_.dataType == StringType) => j }
    assert(shingleJoins.nonEmpty, "shingle join must be a broadcast hash join")
    shingleJoins.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case _ => j.left
      }
      val s = build.toString
      assert(s.contains("% 97) = 0") && !s.contains("NOT ((doc_id"),
        s"the shingle join's build side is not the benchmark slice:\n$s")
    }
  }

  test("paragraph dedup: the keep-first window shuffles hash+ids only, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(
      graft.ops.Dedup.paragraphDedup(docs).queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size === 1)
    // the exchange feeding the window must carry exactly (h, __d, pidx)
    val winExchange = windows.head.collectFirst { case e: ShuffleExchangeExec => e }.get
    val cols = winExchange.output.map(_.name).toSet
    assert(cols === Set("h", "__d", "pidx"),
      s"keep-first window must shuffle slim rows, got $cols")
  }

  test("bm25 is one broadcast scalar + a narrow scoring map: no shuffle join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Search.bm25(docs, Seq("spark", "join"))
      .queryExecution.executedPlan)
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size === 1, "exactly the one-row stats broadcast")
    // the only exchange tolerated is the single-partition stats
    // aggregate; the corpus side must never shuffle
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.forall(_.outputPartitioning.numPartitions === 1),
      s"corpus side of bm25 must not shuffle: ${shuffles.map(_.outputPartitioning)}")
  }

  test("temperature resample broadcasts the per-stratum rates onto the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Curate.temperatureResample(docs)
      .queryExecution.executedPlan)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "rate table must arrive by broadcast hash join")
  }

  test("pivot with a pinned value list keeps the two-phase aggregate shape") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = PlanFixtures.queries("pv1_pivot")(spark, sf)
    val exchanges = withAqeOff(q.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    })
    // Spark compiles values-pinned pivot to TWO aggregations (partial
    // by (priority, status), then pivot-first by priority) + the final
    // orderBy — 3 exchanges, each map-side combinable. More would mean
    // the pivot stopped fusing (e.g. fell back to per-value joins);
    // value DISCOVERY would add a separate distinct-scan job before the
    // plan even builds, which the pinned list avoids by construction.
    assert(exchanges.size <= 3,
      s"pinned-values pivot should stay two-phase, found ${exchanges.size} exchanges")
  }

  test("par() is a no-op on an already-parallel input (no gratuitous shuffle at scale)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val want = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 10000, 1, numPartitions = want).toDF("id")
    val plan = withAqeOff(PlanFixtures.par(wide).queryExecution.executedPlan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "par() must not inject an Exchange when the scan already has >= one partition per core")
    val narrow = spark.range(0, 10000, 1, numPartitions = 1).toDF("id")
    assert(PlanFixtures.par(narrow).rdd.getNumPartitions === want,
      "par() must still fan out a single-partition fixture scan")
  }

  test("sessionize shares one exchange + one sort between its lag and running-sum windows") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = Queries.events(spark, sf)
    val plan = withAqeOff(graft.ops.Sessions.sessionize(
        ev, "user_id", "ts", lit(43200000000L), "event_id")
      .queryExecution.executedPlan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1,
      "lag and running-sum must reuse one hash partitioning on user_id")
    assert(plan.collect { case s: SortExec => s }.size === 1,
      "both windows order by (ts, event_id) — a second sort means the reuse broke")
  }

  test("trailing range frame costs exactly one exchange (no self-join shape)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val ev = Queries.events(spark, sf)
    val plan = withAqeOff(graft.ops.Sessions.trailingWindow(
        ev, "user_id", "ts", "value", 86400000000L)
      .queryExecution.executedPlan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1)
    assert(plan.collect {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, "a time-range window must not plan as a self-join")
  }

  test("hashSplit is a narrow map: zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Curate.hashSplit(
        docs, "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .queryExecution.executedPlan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "split assignment must not shuffle")
  }

  test("equi-depth histogram: broadcast cut points, no global ntile window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = withAqeOff(graft.ops.Profile.equiDepth(li, "l_extendedprice", 4)
      .queryExecution.executedPlan)
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "data-dependent binning must not plan a global window")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.size === 1,
      "the k-1 cut points must arrive by broadcast")
  }

  test("sketch probes are native expressions: no ScalaUDF in the hh2/dc2 plans") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    for (q <- Seq("hh2_cms_heavy_hitters", "dc2_bloom_decontaminate")) {
      val plan = PlanFixtures.queries(q)(spark, sf).queryExecution.optimizedPlan
      val udfs = plan.collect { case p => p.expressions.flatMap(_.collect {
        case u: ScalaUDF => u
      }) }.flatten
      assert(udfs.isEmpty,
        s"$q must probe its sketch through the codegen expression, found $udfs")
    }
  }

  test("inverted index shuffles (term, doc_id) pairs only, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Search.invertedIndex(docs)
      .queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1)
    val shuffled = exchanges.head.child.schema.fieldNames.toSet
    assert(!shuffled.contains("text"),
      s"exchange must carry pair/partial-agg columns, got $shuffled")
  }

  test("sparse cosine join: no exchange ever carries document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Similarity.sparseCosineJoin(docs, 0.8)
      .queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val cols = e.child.schema.fieldNames.toSet
      assert(!cols.contains("text"),
        s"postings join must reduce text to (id, term, w) first, got $cols")
    }
  }

  test("gopher rules + LR scorer fuse into the scan: zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(graft.ops.Text.gopherRules(docs),
                   graft.ops.Curate.lrQualityScore(docs))) {
      val plan = withAqeOff(df.queryExecution.executedPlan)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "quality batteries must be narrow maps")
    }
  }

  test("semanticDedup: corpus never shuffles for the index — one cell join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = withAqeOff(graft.ops.Similarity.semanticDedup(embs, 0.4,
        centroids = graft.ops.Similarity.fixedCentroids(16, 64))
      .queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    // cell-keyed pair join (both sides) + drop-id distinct + anti-join:
    // assignment itself must add NO exchange (argmax over literals)
    exchanges.foreach { e =>
      val part = e.outputPartitioning
      assert(part.numPartitions > 1 || e.child.schema.fieldNames.length <= 2,
        s"unexpected single-partition wide exchange: $part")
    }
    assert(exchanges.size <= 5,
      s"semanticDedup grew extra exchanges: ${exchanges.size}")
  }

  test("duplicatedSpans: the exploded shingle stream rides at most 2 exchanges") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Dedup.duplicatedSpans(docs, k = 8)
      .queryExecution.executedPlan)
    // the corpus-sized stream (one row per token position) must shuffle
    // only for the multi-doc mark (agg on hash + the mark join's probe
    // side) — n_spans is a NARROW per-doc arithmetic, so no third
    // exchange re-aggregates the explode just to count it. "Stream-
    // sized" = the path from the exchange down to the Generate crosses
    // no other exchange (anything above a shuffle has already been
    // reduced to per-doc rows by the mark join's aggregation).
    val streamSized = plan.collect {
      case e: ShuffleExchangeExec if e.child.collectFirst {
          case g: GenerateExec => g }.isDefined &&
        e.child.collectFirst { case x: ShuffleExchangeExec => x }.isEmpty => e
    }
    assert(streamSized.size <= 2,
      s"shingle stream rides ${streamSized.size} exchanges — n_spans re-aggregation regressed")
  }

  test("epochShuffle: one hash exchange on shard, never a range (global-sort) exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Curate.epochShuffle(docs, nShards = 8, seed = 1L)
      .queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"expected only the shard window exchange, got ${exchanges.size}")
    assert(!exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning],
      "the epoch shuffle must not globally sort — the hash IS the shuffle")
  }

  test("hybridRetrieve: both legs rank via top-n, never a global sort of the corpus") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = withAqeOff(graft.ops.Search.hybridRetrieve(
        docs, embs, Seq("spark", "join", "stream"), queryVecId = 7L)
      .queryExecution.executedPlan)
    val topn = plan.collect { case t: TakeOrderedAndProjectExec => t }
    // each leg's candidateK cap must plan as TakeOrderedAndProject
    // (per-partition heaps + driver merge) — the shape that survives a
    // corpus where a global sort shuffle would not
    assert(topn.size >= 2, s"expected 2 top-n legs, found ${topn.size}")
  }

  test("bloom pre-join: native probe (no ScalaUDF) prunes the fact side below its exchange") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    // force the shuffle-join shape (a small local dim would broadcast
    // and leave no fact exchange to assert on)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try withAqeOff(
      graft.ops.Joins.bloomPreJoin(li, dim, "l_orderkey", "o_orderkey")
        .queryExecution.executedPlan)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    val udfs = plan.collect { case p => p.expressions.flatMap(_.collect {
      case u: ScalaUDF => u }) }.flatten
    assert(udfs.isEmpty, "probe must be the codegen bloom_contains_long expression")
    // the bloom filter must sit BELOW the fact-side exchange: find a
    // shuffle whose subtree contains a Filter mentioning the probe
    val factShuffles = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.child.schema.fieldNames.contains("l_extendedprice"))
    assert(factShuffles.nonEmpty)
    factShuffles.foreach { e =>
      val probes = e.child.collect { case f: FilterExec
        if f.condition.toString.contains("bloom_contains_long") => f }
      assert(probes.nonEmpty, "bloom probe must prune before the fact exchange")
    }
  }

  test("hard negatives: anchors broadcast, corpus never shuffles before the window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = withAqeOff(graft.ops.Similarity.hardNegatives(
        embs, embs.filter(col("vec_id") < 8), k = 3)
      .queryExecution.executedPlan)
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      "anchor side must broadcast")
    // the only shuffles are the per-anchor top-k window + pos join key
    val wide = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.child.schema.fieldNames.contains("n_vec"))
    assert(wide.size <= 1,
      s"corpus vectors shuffled ${wide.size} times — scoring must happen map-side")
  }

  test("pca moment pass: one combinable aggregation, no wide vector shuffle") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val xd = transform(col("embedding"), _.cast("double"))
    val q = embs.select(transform(xd,
      v => round(v / lit(4.0) * lit(127.0)).cast("long")).as("q"))
    val moments = q.select(posexplode(expr(
        "flatten(transform(sequence(0, 63), i -> transform(sequence(i, 63), j -> q[i] * q[j])))"))
        .as(Seq("pos", "p")))
      .groupBy("pos").agg(sum("p").as("s"))
    val plan = withAqeOff(moments.queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"moment reduction must be one shuffle, got ${exchanges.size}")
    val cols = exchanges.head.child.schema.fieldNames.toSet
    assert(!cols.contains("q") && !cols.contains("embedding"),
      s"exchange must carry (pos, partial sum) only, got $cols")
    assert(plan.collect { case h: HashAggregateExec => h }.size >= 2,
      "moment sums must have a map-side partial aggregate")
  }

  test("bpe corpus tokenization: reassembly shuffle carries pieces, never document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = withAqeOff(graft.ops.Bpe.tokenizeCorpus(docs, Seq(("e", "r")))
      .queryExecution.executedPlan)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.child.schema.fieldNames.contains("text"),
        "corpus text must reduce to (doc_id, pos, word) before any exchange")
    }
  }

  test("incremental view maintenance never rescans base wide: signed rows are narrow") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val base = Queries.tx(spark, sf).limit(1000)
      .select(col("event_id").cast("string").as("id"), col("account"),
        col("update_at"), col("entity"), col("amount"), col("event_id"))
    val aggPrev = graft.ops.Materialize.groupAgg(base, "account", "amount")
    val delta = base.limit(100)
    val plan = withAqeOff(graft.ops.Materialize.maintainAgg(
        aggPrev, base, delta, col("entity") === "error")
      .queryExecution.executedPlan)
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      val cols = e.child.schema.fieldNames.toSet
      assert(!cols.contains("note") && !cols.contains("props"),
        s"maintenance exchanges must carry key/group/amount columns only, got $cols")
    }
  }
}
