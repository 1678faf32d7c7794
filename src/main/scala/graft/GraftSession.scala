package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.functions.{BloomAnyContain, BloomContainsLong, CmsEstimate, DeflateLen, JaroWinkler, MaxSimScore, MinHashSigs, RollingHash, SimHash64, TriProducts, VectorDot}

/** Registers graft's native Catalyst expressions through the PUBLIC
  * extension point (`SparkSessionExtensions.injectFunction`) — the
  * Spark-4-sanctioned way to get a custom `Expression` addressable from
  * both SQL and the Column API (`call_function`), with no `private[sql]`
  * access. Usable standalone via `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftExtensions {
  /** True when the active session resolves the named graft function —
    * operators use this to degrade to built-in formulations (same
    * values, slower) on sessions built without the extensions.
    */
  def available(fn: String): Boolean =
    SparkSession.getActiveSession.exists(_.catalog.functionExists(fn))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => RollingHash(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))))
    // literal numHashes/seed args are extracted at resolution time
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => MinHashSigs(args(0),
        args(1).eval().asInstanceOf[Int], args(2).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => CmsEstimate(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_any_contain"),
      new ExpressionInfo(classOf[BloomAnyContain].getName, "bloom_any_contain"),
      (args: Seq[Expression]) => BloomAnyContain(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_contains_long"),
      new ExpressionInfo(classOf[BloomContainsLong].getName, "bloom_contains_long"),
      (args: Seq[Expression]) => BloomContainsLong(args(0), args(1))))
    // literal parts arg extracted at resolution time (the minhash_sigs
    // convention)
    ext.injectFunction((
      new FunctionIdentifier("maxsim_score"),
      new ExpressionInfo(classOf[MaxSimScore].getName, "maxsim_score"),
      (args: Seq[Expression]) => MaxSimScore(args(0), args(1), args(2),
        args(3), args(4).eval().asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("tri_products"),
      new ExpressionInfo(classOf[TriProducts].getName, "tri_products"),
      (args: Seq[Expression]) => TriProducts(args.head)))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (args: Seq[Expression]) => DeflateLen(args.head)))
  }
}

/** One place that knows how to build a correctly-configured local
  * session: graft extensions, UTC, AQE on, shuffle partitions sized to
  * the local core count (32 on the driver harness, not the 200 default
  * that would fragment tiny local shuffles), and the fork-free `file:`
  * file system.
  *
  * Why the file system is replaced: the Hadoop client in Spark's jars
  * runs without the native `libhadoop`, so the stock local file system
  * starts an OS process for every permission it sets and every link it
  * checks: `chmod` on each `mkdirs` and file `create`, `readlink`
  * several times per `FileContext.rename`. Measured in-process on a
  * 4-vCPU VM (medians of 20-40 calls), one `mkdirs` cost 3-4 ms, one
  * `create` 7-9 ms and one checkpoint-style `FileContext.rename` 25-32
  * ms; through `java.nio` they cost 0.1-0.3 ms, 0.5-1.4 ms and about
  * 1 ms. One seed-1 CDC benchmark run started 990 such processes on
  * `cdc_hot` and 1,666 on `cdc_scatter`, for the streaming offset,
  * commit and source logs, every write task's partition dirs, files and
  * task commit, and each write's job setup. [[graft.io.ForkFreeLocalFs]] does the same work through
  * `java.nio`, with the same mode bits and `.crc` sidecars. Both the
  * `FileSystem` and the `FileContext` implementation are registered, so
  * every `file:` path of the session goes through it; other schemes are
  * untouched.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      // Reducer sizing, measured at sf0.1 (183-query bench, 32-core
      // host): a static partitions=cores fragments every tiny stage —
      // iterative ops (connected components, PageRank, BPE rounds) and
      // stateful streams (no AQE) pay per-task scheduling 32× per
      // round/tick (141s -> 183s total), and even AQE's
      // initialPartitionNum=32 keeps the 32-bucket shuffle writes
      // (164s). So reducers stay at a small static 8 at this SF while
      // the MASTER keeps every core: map-side/per-row compute
      // parallelism comes from input splits and par()'s fan-out (the
      // text batteries run 3× faster on 32 cores), not reducer count.
      // At real scale, raise spark.sql.shuffle.partitions with the
      // data — reducer count scales with bytes shuffled, not cores —
      // via SPARK_GRAFT_SHUFFLE_PARTITIONS (no code change needed).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // partition dirs land as strings ("01" stays "01", not int 1) —
      // required for the CDC landing round-trip fidelity
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // bucketed tables (BucketedLake) land outside the repo/cwd, on
      // the same tmpfs-preferring scratch base as the sink round-trips
      .config("spark.sql.warehouse.dir",
        Queries.scratchBase + "/graft_warehouse")
      // Output-commit cost: v2 commits task output directly into the
      // destination (no job-commit rename pass) and the _SUCCESS marker
      // is skipped — the right trade for this engine's sinks, whose
      // atomicity comes from the VersionedDir pointer flip / landing
      // tracker cursor, not from directory-rename visibility. The
      // many-small-snapshot streaming queries pay this commit protocol
      // per micro-batch. (On a real cluster against S3/ABFS you'd swap
      // in the cloud-native committer; same reasoning.)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  // default master to local[32] capped at the actual core count (the
  // harness contract): Bench/Verify were silently running 4-thread on
  // a 32-core box. Reducers stay at builder()'s measured static 8
  // unless SPARK_GRAFT_SHUFFLE_PARTITIONS overrides. Tests keep their
  // explicit "4" — tiny fixtures fragment at 32 partitions.
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
