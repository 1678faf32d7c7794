package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The plan-shape regression gate: every headline query's static
  * (AQE-off) physical plan must keep its golden shuffle/broadcast
  * exchange counts. A change that un-broadcasts a small side, adds a
  * shuffle, or drops a reused exchange fails HERE with a per-query
  * diff — not silently in the next bench.
  *
  * The golden (`src/test/resources/plan_golden.tsv`) is generated by
  * this very spec under the same session/SF it checks with, so there
  * is no config drift between recording and gating:
  * `PLAN_GOLDEN_REGEN=1 sbt "testOnly *PlanGoldenSpec"` rewrites it;
  * review the diff like any other source change.
  */
class PlanGoldenSpec extends AnyFunSuite {
  private lazy val spark0 = TestSpark.spark
  private val goldenPath = Paths.get("src/test/resources/plan_golden.tsv")
  private val sfDir = "/root/testdata/sf0.001"

  /** The plan-audited headline registry entries: the flagship merge,
    * the W1 dedup, the P9 partition-range read, the T3 watermark clamp
    * and the compare oracle's diff classification.
    */
  private val Headline = Seq("j1_flagship_upsert", "w1_dedup_latest",
    "p9_partition_range", "t3_watermark_clamp", "cmp1_diff_classify")

  /** (shuffle exchanges, broadcast exchanges) of the physical plan,
    * counted via tree walk, not the text dump: a persisted subtree's
    * plan prints again at every InMemoryTableScan reference, so a
    * regex over the dump would multiply shared exchanges by their
    * consumer count. Build the DataFrame with AQE OFF — the adaptive
    * wrapper hides the static tree from collect().
    */
  private def exchangeCounts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.size
    val broadcasts = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }.size
    (shuffles, broadcasts)
  }

  test("headline plans keep their golden exchange/broadcast counts") {
    // own session state so AQE can be disabled without touching suites
    // sharing the JVM-wide TestSpark session (same extensions, same
    // SparkContext, fresh conf)
    val s = spark0.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      val got: Seq[(String, Int, Int)] = Headline.map { n =>
        val (sh, bc) = exchangeCounts(SparkEntry.queries(n)(s, sfDir))
        (n, sh, bc)
      }
      if (sys.env.contains("PLAN_GOLDEN_REGEN")) {
        Files.createDirectories(goldenPath.getParent)
        Files.writeString(goldenPath,
          got.map { case (n, a, b) => s"$n\t$a\t$b" }.mkString("", "\n", "\n"))
        info(s"regenerated $goldenPath — review and commit the diff")
      } else {
        assert(Files.exists(goldenPath),
          s"missing $goldenPath — generate with PLAN_GOLDEN_REGEN=1")
        val golden = Files.readAllLines(goldenPath).asScala.toSeq
          .filter(_.nonEmpty).map { l =>
            val Array(n, a, b) = l.split("\t")
            n -> (a.toInt, b.toInt)
          }.toMap
        val drift = got.flatMap { case (n, sh, bc) =>
          golden.get(n) match {
            case None => Some(s"$n: missing from golden")
            case Some((gsh, gbc)) if gsh != sh || gbc != bc =>
              Some(s"$n: shuffles $gsh -> $sh, broadcasts $gbc -> $bc")
            case _ => None
          }
        } ++ (golden.keySet -- got.map(_._1)).toSeq.sorted
          .map(n => s"$n: in golden but no longer a headline query")
        assert(drift.isEmpty, drift.mkString(
          "plan-shape drift vs plan_golden.tsv:\n  ", "\n  ",
          "\n  If intentional, regen: PLAN_GOLDEN_REGEN=1 sbt \"testOnly *PlanGoldenSpec\""))
      }
    } finally {
      s.catalog.clearCache()
      org.apache.spark.sql.SparkSession.setActiveSession(spark0)
    }
  }

  /** The ids-only candidate discipline, physically pinned: in every
    * LSH query, any shuffle partitioned on the bucket key (`bkt`) must
    * carry ONLY scalar columns — a 64-dim vector riding the ×probes
    * candidate fan-out is the shuffle-volume bug the r9 verdict flagged
    * on ss3 (10× scale ratio 4.05). Vectors may shuffle only in the
    * ids-keyed scoring joins downstream of dedup.
    */
  test("LSH candidate joins carry ids only — no array payload") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.ArrayType
    val s = spark0.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      // bx2 persists its scored candidate triples (r16 OPT), so its
      // bucket join lives in the cached relation's build plan — the
      // discipline is pinned THROUGH InMemoryRelation boundaries
      def withCached(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: p.collect {
          case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            withCached(t.relation.cachedPlan)
        }.flatten
      Seq("ss3_lsh_topk", "ss4_lsh_neardup_pairs", "bx2_bitext_lsh").foreach { n =>
        val plans = withCached(
          PlanFixtures.queries(n)(s, sfDir).queryExecution.executedPlan)
        // the candidate join is the one keyed on the bucket column; its
        // INPUTS (whether they arrive via shuffle or broadcast — tiny
        // test SFs broadcast what a 100 TB run must shuffle) must be
        // scalar-only
        val bucketJoins = plans.flatMap(_.collect {
          case j: BaseJoinExec
            if (j.leftKeys ++ j.rightKeys)
              .exists(_.references.exists(_.name == "bkt")) => j
        })
        assert(bucketJoins.nonEmpty,
          s"$n: expected a bucket-keyed candidate join in the plan")
        bucketJoins.foreach { j =>
          val arrays = j.children.flatMap(_.output)
            .filter(_.dataType.isInstanceOf[ArrayType])
          assert(arrays.isEmpty,
            s"$n: bucket join input carries array payload ${arrays.map(_.name).mkString(", ")}")
        }
        // the candidates-fed plans must never fall back to a corpus ×
        // corpus product anywhere
        val products = plans.flatMap(_.collect {
          case p: org.apache.spark.sql.execution.joins.CartesianProductExec => p
          case p: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => p
        })
        assert(products.isEmpty,
          s"$n: plan contains a cross/nested-loop join (${products.map(_.nodeName).mkString(", ")})")
      }
    } finally {
      s.catalog.clearCache()
      org.apache.spark.sql.SparkSession.setActiveSession(spark0)
    }
  }

  /** The bucketed merge's scale claim, physically pinned: the bucketed
    * snapshot side of the upsertJoin leg must reach the merge join with
    * ZERO exchanges — the whole point of the join-shaped formulation
    * (O(delta) shuffle bytes per tick at 100 TB). Built from the former
    * j5 registry entry's inputs (the flagship's even/odd split of the
    * keyed feed).
    */
  test("j5's bucketed snapshot side merges exchange-free") {
    import org.apache.spark.sql.functions._
    val s = spark0.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      val base = Queries.keyedFlat(s, sfDir)
      val snap = graft.merge.Merge.dedupLatest(
        base.filter(col("event_id") % 2 === 0), "id", "update_at",
        Seq(col("event_id").desc))
      val delt = base.filter(col("event_id") % 2 === 1)
      val tbl = "graft_j5_plan_pin"
      graft.ingest.BucketedLake.bulkWrite(snap, tbl, nBuckets = 8)
      assert(graft.ingest.BucketedLake.snapshotSideShuffleFree(s, tbl, delt),
        "expected zero exchanges above the bucketed snapshot scan:\n" +
          graft.merge.Merge.upsertJoin(
            graft.ingest.BucketedLake.read(s, tbl), delt)
            .queryExecution.executedPlan.toString)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
    } finally {
      s.catalog.clearCache()
      org.apache.spark.sql.SparkSession.setActiveSession(spark0)
    }
  }
}
