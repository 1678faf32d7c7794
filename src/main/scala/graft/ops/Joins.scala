package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark lacks as built-ins: point-in-time (as-of) join
  * and interval (range) join. Both are built by COMPOSING shuffled
  * built-in operators — preference (a) of the extension ladder — so
  * Catalyst/AQE still own the physical planning.
  *
  * As-of: the union+window formulation. Tagging both inputs, sorting
  * per key on (time, side), and running one `last(_, ignoreNulls)`
  * window gives every left row the latest right payload at-or-before
  * its timestamp with ONE key shuffle and NO join operator at all —
  * at 100 TB this is strictly cheaper than any bucketed-join
  * formulation (which must either replicate right rows across time
  * buckets or re-window per bucket), and it inherits sort-based spill.
  *
  * Range: bucketize-and-equi-join. Each interval is exploded to the
  * fixed-width buckets it covers, each point hashes to exactly one
  * bucket, and the residual `start <= p < end` predicate runs inside a
  * plain equi-join — a shuffled hash/sort-merge join instead of the
  * BroadcastNestedLoop/cartesian plan Spark picks for a raw non-equi
  * condition. Output rows are exact (a point matches an interval in
  * exactly one shared bucket, so no dedup pass is needed).
  */
object Joins {

  /** Backward as-of join: for every left row, the single right row with
    * the greatest `rightTime <= leftTime` among rows sharing `keys`
    * (inclusive, like DuckDB `ASOF JOIN ... ON l.t >= r.t`); left rows
    * with no prior right row keep null payloads (left-outer shape).
    *
    * `right` must already be projected to `keys ++ rightTime ++
    * payload` with names disjoint from `left`'s non-key columns. Ties
    * on (key, rightTime) resolve deterministically to the greatest
    * payload struct.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String): DataFrame = {
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    val p = struct(payloadCols.map(col): _*)
    val r2 = right.select(keys.map(col) ++ Seq(
      col(rightTime).cast("timestamp").as("__t"), lit(0).as("__src"), p.as("__p")): _*)
    val l2 = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__src", lit(1))
    // unionByName fills the other side's exclusive columns with null
    val u = l2.unionByName(r2, allowMissingColumns = true)
    // right rows sort BEFORE the left rows of the same instant, so the
    // running frame is >=-inclusive; __p ascending makes equal-time
    // right rows resolve to a deterministic winner
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__src").asc, col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
    val out = left.columns.map(col) ++ payloadCols.map(c => col(s"__m.$c").as(c))
    matched.select(out.toSeq: _*)
  }

  /** Forward as-of join: the single right row with the smallest
    * `rightTime >= leftTime` per key. Same contract as [[asofJoin]].
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String): DataFrame = {
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    val p = struct(payloadCols.map(col): _*)
    val r2 = right.select(keys.map(col) ++ Seq(
      col(rightTime).cast("timestamp").as("__t"), lit(0).as("__src"), p.as("__p")): _*)
    val l2 = left
      .withColumn("__t", col(leftTime).cast("timestamp"))
      .withColumn("__src", lit(1))
    val u = l2.unionByName(r2, allowMissingColumns = true)
    // left rows sort before same-instant right rows (src desc), so the
    // forward frame [current, +inf) still sees an equal-time right row;
    // __p ascending -> first() picks the deterministic smallest payload
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__src").desc, col("__p").asc_nulls_first)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = u.withColumn("__m", first(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
    val out = left.columns.map(col) ++ payloadCols.map(c => col(s"__m.$c").as(c))
    matched.select(out.toSeq: _*)
  }

  /** Interval join on a numeric axis: all (point, interval) pairs with
    * `start <= point < end`, planned as an equi-join on fixed-width
    * buckets. `pointCol`/`startCol`/`endCol` must be numeric (cast
    * timestamps to epoch micros first) and column names of the two
    * inputs must be disjoint.
    *
    * `bucketWidth` trades replication for pruning: each interval emits
    * `ceil(len/width)+1` bucket rows, each point exactly one — pick a
    * width near the typical interval length. Long outlier intervals
    * degrade gracefully (more replicas, still an equi-join); AQE's
    * skew-join splitting handles hot buckets.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                pointCol: String, startCol: String, endCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pb = points.withColumn("__pb", floor(col(pointCol) / bucketWidth).cast("long"))
    val ib = intervals.withColumn("__ib", explode(sequence(
      floor(col(startCol) / bucketWidth).cast("long"),
      // end is exclusive, but a point in the end bucket can still be
      // < end, so the interval covers through floor(end/width)
      floor(col(endCol) / bucketWidth).cast("long"))))
    pb.join(ib, col("__pb") === col("__ib") &&
        col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__pb", "__ib")
  }

  /** Interval-OVERLAP join: all (left, right) pairs whose half-open
    * intervals intersect (`lStart < rEnd && rStart < lEnd`) — the
    * sessions-vs-outages / bookings-vs-maintenance primitive that a
    * naive formulation plans as a cartesian product. Same bucketing
    * device as [[rangeJoin]], on BOTH sides: each interval replicates
    * into the fixed-width buckets it covers and candidates meet on
    * bucket equality.
    *
    * Exactly-once without a distinct pass: a pair overlapping several
    * shared buckets would match in each, so the join keeps only the
    * bucket containing `greatest(lStart, rStart)` — the overlap's
    * first instant, which provably lies in both intervals and in both
    * bucket ranges. Columns must be numeric (cast timestamps to epoch
    * seconds/micros) and names disjoint across the two inputs.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    def buckets(df: DataFrame, s: String, e: String, as: String) =
      df.withColumn(as, explode(sequence(
        floor(col(s) / bucketWidth).cast("long"),
        // half-open [s, e) occupies buckets through floor((e-1)/width)
        floor((col(e) - 1) / bucketWidth).cast("long"))))
    val lb = buckets(left, lStart, lEnd, "__lb")
    val rb = buckets(right, rStart, rEnd, "__rb")
    lb.join(rb, col("__lb") === col("__rb") &&
        col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        floor(greatest(col(lStart), col(rStart)) / bucketWidth).cast("long") === col("__lb"))
      .drop("__lb", "__rb")
  }

  /** Bloom semi-join reduction (the hand-rolled runtime filter — the
    * sideways-information-passing trick of Bloom joins / LIP, Zhu et
    * al. SIGMOD'17): build a Bloom filter over the dimension's join
    * keys (one tiny pass), prune the fact side with a codegen'd
    * probe BEFORE its shuffle, then run the real equi-join, which
    * removes the filter's false positives — semantics are exactly the
    * plain join's.
    *
    * 100 TB: when the dimension filter is selective, the fact exchange
    * shrinks by ~the selectivity factor for the cost of a broadcast
    * byte array — the dominant join cost (shuffling the fact table)
    * becomes proportional to the SURVIVING rows. Spark's own injected
    * runtime filters cover shuffle-hash cases; this form works on any
    * plan shape and any session (UDF fallback without extensions).
    */
  def bloomPreJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                   dimKey: String, fpp: Double = 0.01): DataFrame = {
    val keys = dim.select(col(dimKey)).distinct()
    val n = keys.count() // one tiny job over the dimension only
    val bf = keys.stat.bloomFilter(dimKey, math.max(n, 1L), fpp)
    val keep =
      if (graft.functions.GraftExtensions.available("bloom_contains_long")) {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        call_function("bloom_contains_long", lit(bos.toByteArray),
          col(factKey).cast("long"))
      } else {
        val bc = fact.sparkSession.sparkContext.broadcast(bf)
        udf((k: Long) => bc.value.mightContainLong(k)).apply(col(factKey).cast("long"))
      }
    fact.filter(keep).join(dim, col(factKey) === col(dimKey))
  }

  /** AGMS / tug-of-war join-size estimate (Alon–Matias–Szegedy STOC'96,
    * Alon–Gibbons–Matias–Szegedy PODS'99): |A ⋈ B| = Σ_k f_A(k)·f_B(k)
    * estimated by J independent ±1-hash counters — `S_j = Σ_rows
    * s_j(key)`, estimate = mean_j S_j^A·S_j^B. THE query-planning
    * primitive for sizing a join without running it: each side is
    * sketched in ONE pass, the sketches are 2×J longs, and sides can
    * be sketched on different days/clusters and combined later.
    *
    * Determinism: the ±1 coins are hex-digit parities of md5(key) —
    * engine-portable; counters and products are exact integers, the
    * mean is one display division. The exact truth (via frequency
    * vectors, never the expanded join) and the relative error ride
    * along as the estimator audit.
    *
    * Scale: two ONE-pass combinable aggregates (J longs each) + a
    * key-cardinality-bounded frequency join for the truth leg — drop
    * the truth leg in production and the operator never shuffles
    * anything but 2×J longs. Counter count J trades accuracy
    * (stderr ≈ √(F₂ᴬ·F₂ᴮ)/√J) for sketch width.
    */
  def agmsJoinCardinality(a: DataFrame, aKey: String,
                          b: DataFrame, bKey: String,
                          counters: Int = 32): DataFrame = {
    require(counters >= 1 && counters <= 32,
      "one md5 supplies at most 32 hex-digit parity coins")
    val odd = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    def sketch(df: DataFrame, key: String, pfx: String): DataFrame = {
      val h = md5(col(key).cast("string"))
      val sums = (1 to counters).map(j =>
        sum(when(substring(h, j, 1).isin(odd: _*), -1L).otherwise(1L))
          .cast("long").as(s"$pfx$j")) :+
        count(lit(1)).cast("long").as(s"${pfx}n")
      df.agg(sums.head, sums.tail: _*)
    }
    val fa = a.groupBy(col(aKey).as("__k"))
      .agg(count(lit(1)).cast("long").as("fa"))
    val fb = b.groupBy(col(bKey).as("__k"))
      .agg(count(lit(1)).cast("long").as("fb"))
    val truth = fa.join(fb, "__k")
      .agg(coalesce(sum(col("fa").cast("decimal(38,0)") *
        col("fb").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("t"))
      .select(col("t").cast("long").as("truth"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val prod = (1 to counters)
      .map(j => dec(col(s"sa_$j")) * dec(col(s"sb_$j")))
      .reduce(_ + _)
    sketch(a, aKey, "sa_").crossJoin(sketch(b, bKey, "sb_"))
      .crossJoin(truth)
      .select(col("sa_n").as("n_a"), col("sb_n").as("n_b"),
        lit(counters.toLong).as("n_counters"), col("truth"),
        round(prod.cast("double") / lit(counters.toDouble), 6).as("estimate"),
        round((prod.cast("double") / lit(counters.toDouble) -
          col("truth").cast("double")) / col("truth").cast("double"), 6)
          .as("rel_err"))
  }
}
