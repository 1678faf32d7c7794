package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Curate, Search, Similarity}

/** The operator-library and TPC-H-style queries whose physical plans
  * [[PlanSpec]] and [[PlanGoldenSpec]] audit. They are plan fixtures, not
  * registry entries: the driver registry ([[SparkEntry]]) holds only the
  * CDC engine's queries.
  */
object PlanFixtures {
  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")
  private def li(s: SparkSession, d: String) = s.read.parquet(s"$d/lineitem.parquet")
  private def dec(c: String) = col(c).cast("decimal(18,2)")
  private val discPrice = dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount"))

  /** The local fixtures are single parquet files → single-task scans.
    * The hash-heavy per-row operators (minhash/simhash/SRP) are
    * compute-bound maps, so spread them across all cores first — but
    * ONLY when the scan is actually starved for parallelism: on a
    * many-file 100 TB corpus the scan already yields >= one partition
    * per core and this must not inject a gratuitous full shuffle of
    * document text ahead of a narrow signature pass.
    */
  def par(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary
    "h1_pricing_summary" -> ((s, d) => li(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        count(lit(1)).cast("long").as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order").cast("double"))
      .orderBy("l_returnflag", "l_linestatus")),

    // broadcast dims + window top-k: top-3 suppliers by revenue per nation
    "h4_top_suppliers" -> ((s, d) => {
      val rev = li(s, d)
        .join(broadcast(s.read.parquet(s"$d/supplier.parquet")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("s_suppkey"))
        .agg(sum(discPrice).cast("double").as("revenue"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("revenue").desc, col("s_suppkey").asc)
      rev.withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
        .orderBy("n_name", "rk")
    }),

    // long->wide pivot with a pinned value list
    "pv1_pivot" -> ((s, d) => s.read.parquet(s"$d/orders.parquet")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec("o_totalprice")).cast("double"))
      .orderBy("o_orderpriority")),

    // heavy hitters through a count-min sketch
    "hh2_cms_heavy_hitters" -> ((s, d) => Search.heavyHittersCms(docs(s, d), k = 20)
      .orderBy(col("cnt").desc, col("tok"))),

    // exact decontamination beside its bloom-filter form
    "dc2_bloom_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") % 97 =!= 0)
      val bench = all.filter(col("doc_id") % 97 === 0)
      Curate.decontaminateBloom(corpus, bench)
        .join(Curate.decontaminate(corpus, bench).select("doc_id", "contaminated"),
          Seq("doc_id"))
        .select(col("doc_id"), col("contaminated"),
          (!col("contaminated") || col("bloom_flagged")).as("superset_ok"))
        .orderBy("doc_id")
    }),

    // SRP-LSH top-k over 8 tables
    "ss3_lsh_topk" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 8), k = 5, nTables = 8)
        .select(col("q_id"), col("n_id"), col("rank"), round(col("sim"), 6).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // 8 planes × 8 tables + Hamming-1 multi-probe near-duplicate pairs
    "ss4_lsh_neardup_pairs" -> ((s, d) =>
      Similarity.lshNearDupPairs(par(embs(s, d)), threshold = 0.4,
          nPlanes = 8, nTables = 8, multiProbe = true)
        .select(col("id1"), col("id2"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy("id1", "id2")),

    // bitext mining fed by SRP-LSH candidate pairs (no corpus × corpus join)
    "bx2_bitext_lsh" -> ((s, d) => {
      val e = embs(s, d)
      val src = e.filter(pmod(col("label"), lit(2)) === 0)
      val tgt = e.filter(pmod(col("label"), lit(2)) === 1)
      Similarity.bitextMine(src, tgt, k = 4, marginThreshold = 1.05,
          candidates = Some(Similarity.lshCandidatePairs(src, tgt)))
        .select(col("s_id"), col("t_id"),
          round(col("cos_sim"), 6).as("cos_sim"),
          round(col("margin"), 6).as("margin"))
        .orderBy("s_id", "t_id")
    }))
}
