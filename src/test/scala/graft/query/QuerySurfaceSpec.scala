package graft.query

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkJobs, TestSpark}
import graft.ingest.{Ingest, TableWriter}

/** Laws for the read surface. [[QuerySurface.compare]] equals the two
  * `exceptAll` directions as multisets, and scans its inputs once; a
  * lake lookup is one Spark job. For the classified snapshot diff:
  * every label reachable, and the content hash immune to the two
  * classic false-equality traps (column order, null-vs-concatenation
  * ambiguity).
  */
class QuerySurfaceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def statusOf(src: Seq[(String, String, String)],
                       tgt: Seq[(String, String, String)]): Map[String, String] = {
    val s = src.toDF("k", "c1", "c2")
    val t = tgt.toDF("k", "c1", "c2")
    QuerySurface.diffClassify(s, t, Seq("k"))
      .collect().map(r => r.getAs[String]("k") -> r.getAs[String]("status")).toMap
  }

  test("diffClassify labels added / removed / changed / unchanged") {
    val got = statusOf(
      src = Seq(("a", "x", "1"), ("b", "x", "1"), ("c", "x", "1")),
      tgt = Seq(("a", "x", "1"), ("b", "y", "1"), ("d", "x", "1")))
    assert(got === Map("a" -> "unchanged", "b" -> "changed",
      "c" -> "added", "d" -> "removed"))
  }

  test("hash is column-order safe: reordered target columns still compare equal") {
    val s = Seq(("a", "x", "1")).toDF("k", "c1", "c2")
    val t = Seq(("a", "1", "x")).toDF("k", "c2", "c1") // same values, swapped layout
    val got = QuerySurface.diffClassify(s, t, Seq("k"))
      .collect().map(r => r.getAs[String]("status"))
    assert(got === Array("unchanged"))
  }

  test("hash distinguishes null placement and concatenation boundaries") {
    // ("ab", null) vs (null, "ab"): without a null sentinel both sides
    // would hash the bare string "ab"; ("ab","c") vs ("a","bc") would
    // collide without a separator
    val got = statusOf(
      src = Seq(("n", "ab", null), ("s", "ab", "c")),
      tgt = Seq(("n", null, "ab"), ("s", "a", "bc")))
    assert(got === Map("n" -> "changed", "s" -> "changed"))
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  private def columnsOf(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** compare's two sides against the `exceptAll` pair it replaces:
    * same rows with the same multiplicities, same names and types.
    */
  private def assertCompareLaw(source: DataFrame, lake: DataFrame): Unit = {
    val (l, r) = QuerySurface.compare(source, lake)
    val (wl, wr) = (source.exceptAll(lake), lake.exceptAll(source))
    assert(columnsOf(l) === columnsOf(wl))
    assert(columnsOf(r) === columnsOf(wr))
    assert(multiset(l) === multiset(wl), "source-only side")
    assert(multiset(r) === multiset(wr), "lake-only side")
    assert(QuerySurface.isEqual(source, lake) === (wl.isEmpty && wr.isEmpty))
  }

  private type Gen = (Option[String], Option[Int], Option[Double])

  /** A few distinct rows, NULLs and NaN / -0.0 included, each repeated
    * 0-3 times on each side.
    */
  private def sides(seed: Int): (Seq[Gen], Seq[Gen]) = {
    val rnd = new Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    val rows = Seq.fill(6)((pick(Some("a"), Some("b"), None), pick(Some(1), Some(2), None),
      pick(Some(1.5), Some(Double.NaN), Some(0.0), Some(-0.0), None))).distinct
    def side = rows.flatMap(r => Seq.fill(rnd.nextInt(4))(r))
    (side, side)
  }

  test("compare equals the two exceptAll directions as multisets over seeded sides") {
    (1 to 12).foreach { seed =>
      val (s, l) = sides(seed)
      withClue(s"seed $seed: ") {
        assertCompareLaw(s.toDF("k", "v", "x"), l.toDF("k", "v", "x"))
      }
    }
  }

  test("compare law: repeated rows with different multiplicities and NULL keys") {
    val s = Seq[Gen]((Some("a"), Some(1), None), (Some("a"), Some(1), None),
      (Some("a"), Some(1), None), (None, Some(2), Some(1.5)), (None, None, None))
    val l = Seq[Gen]((Some("a"), Some(1), None), (None, Some(2), Some(1.5)),
      (None, Some(2), Some(1.5)), (None, None, None))
    assertCompareLaw(s.toDF("k", "v", "x"), l.toDF("k", "v", "x"))
    val (onlyS, onlyL) = QuerySurface.compare(s.toDF("k", "v", "x"), l.toDF("k", "v", "x"))
    assert(onlyS.count() === 2 && onlyL.count() === 1)
  }

  test("compare law: one side empty, both sides empty") {
    val rows = Seq[Gen]((Some("a"), Some(1), None), (Some("a"), Some(1), None), (None, None, None))
    val full = rows.toDF("k", "v", "x")
    val empty = Seq.empty[Gen].toDF("k", "v", "x")
    assertCompareLaw(full, empty)
    assertCompareLaw(empty, full)
    assertCompareLaw(empty, empty)
  }

  test("compare law: positional columns with different names, int against long") {
    val s = Seq((Some("a"), Some(1)), (None, Some(2)), (Some("c"), None)).toDF("k", "v")
    val l = Seq((Some("a"), Some(1L)), (None, Some(3L)), (Some("c"), None))
      .toDF("key", "value")
    assertCompareLaw(s, l)
    val (onlyS, onlyL) = QuerySurface.compare(s, l)
    assert(onlyS.columns.toSeq === Seq("k", "v") && onlyL.columns.toSeq === Seq("key", "value"))
    assert(onlyS.schema("v").dataType === org.apache.spark.sql.types.LongType)
  }

  test("diffReport labels the same rows the exceptAll form did") {
    (1 to 4).foreach { seed =>
      val (s, l) = sides(seed)
      val (src, lake) = (s.toDF("k", "v", "x"), l.toDF("k", "v", "x"))
      val before = src.exceptAll(lake).withColumn("side", lit("source_only"))
        .unionByName(lake.exceptAll(src).withColumn("side", lit("lake_only")))
      val n = before.count().toInt
      withClue(s"seed $seed: ") {
        assert(multiset(QuerySurface.diffReport(src, lake, n + 1)) === multiset(before))
        assert(QuerySurface.diffReport(src, lake, 1).count() === math.min(n, 1))
      }
    }
  }

  test("compare scans its inputs once: counting its sides reads no input file") {
    val dir = Files.createTempDirectory("graft_compare_once")
    Seq(("a", 1), ("b", 2), ("b", 2), ("c", 3)).toDF("k", "v")
      .write.parquet(dir.resolve("source").toString)
    Seq(("a", 1), ("b", 2), ("d", 4)).toDF("k", "v")
      .write.parquet(dir.resolve("lake").toString)
    val source = spark.read.parquet(dir.resolve("source").toString)
    val lake = spark.read.parquet(dir.resolve("lake").toString)
    assert(SparkJobs.fired(source.collect()).fileBytesRead > 0, "control: a scan reads files")
    val (onlyS, onlyL) = QuerySurface.compare(source, lake)
    var counts = (0L, 0L)
    val fired = SparkJobs.fired { counts = (onlyS.count(), onlyL.count()) }
    assert(counts === ((2L, 1L)))
    assert(fired.jobs > 0)
    assert(fired.fileBytesRead === 0L, "counting a compare side must not re-read the inputs")
    Seq(onlyS, onlyL).foreach { side =>
      val scans = collect(side.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      assert(scans.isEmpty, s"a compare side still scans files:\n${side.queryExecution.executedPlan}")
    }
  }

  test("a lake lookup is one Spark job: no schema-inference job before the scan") {
    val lake = Files.createTempDirectory("graft_lookup_jobs").resolve("tbl").toString
    val flat = Seq(
      ("acc-1", "2024-01-01T00:00:01.000000+0000", "e", 1, 0, "a"),
      ("acc-1", "2024-01-02T00:00:01.000000+0000", "e", 2, 1, "b"),
      ("acc-2", "2024-01-02T00:00:02.000000+0000", "e", 3, 0, "c"))
      .toDF("account", "create_at", "entity", "amount", "is_credit", "note")
      .withColumn("update_at", col("create_at"))
    TableWriter.bulkWrite(Ingest.toLakeRows(flat), lake)
    var got = Array.empty[Row]
    val jobs = SparkJobs.jobsFiredBy {
      got = QuerySurface.latestOfKey(TableWriter.read(spark, lake), "account", "acc-1",
        "create_at", 3).collect()
    }
    assert(got.map(_.getAs[String]("note")).toSeq === Seq("b", "a"))
    assert(jobs === 1, s"a lookup fired $jobs jobs")
  }
}
