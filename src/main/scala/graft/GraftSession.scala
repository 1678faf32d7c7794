package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** One place that knows how to build a correctly-configured local
  * session: UTC, AQE on, a small static shuffle-partition count (not
  * the 200 default that would fragment tiny local shuffles), and the
  * fork-free `file:` file system. It registers no custom functions: the
  * CDC engine runs on Spark built-ins (SURVEY §2.10); the operator
  * library's native expressions come from
  * [[graft.functions.GraftExtensions]], which its callers add.
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
  /** Base dir for the session's scratch (its warehouse dir and the
    * registry's sink round-trips, `Queries.scratch`):
    * SPARK_GRAFT_SCRATCH if set, else /dev/shm when present (tmpfs —
    * stream checkpoints and versioned-snapshot sinks fsync MANY small
    * files per micro-batch, and on a disk-backed /tmp those fsyncs are
    * the dominant fixed cost of every streaming query), else
    * java.io.tmpdir. Scratch is wiped per run by definition, so
    * volatility is fine — production sinks take real durable paths
    * through the operator APIs, never through here.
    */
  private[graft] val scratchBase: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", {
      val shm = Paths.get("/dev/shm")
      if (Files.isDirectory(shm) && Files.isWritable(shm)) "/dev/shm"
      else sys.props("java.io.tmpdir")
    })

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // Reducer sizing, measured at sf0.1 on a 32-core host: a static
      // partitions=cores fragments every tiny stage — stateful streams
      // (no AQE) and iterative jobs pay per-task scheduling 32× per
      // tick or round, and even AQE's initialPartitionNum=32 keeps the
      // 32-bucket shuffle writes. So reducers stay at a small static 8
      // while the MASTER keeps every core: map-side compute parallelism
      // comes from input splits, not reducer count. At real scale,
      // raise spark.sql.shuffle.partitions with the data — reducer
      // count scales with bytes shuffled, not cores — by setting it on
      // the session (spark.conf.set).
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // partition dirs land as strings ("01" stays "01", not int 1) —
      // required for the CDC landing round-trip fidelity
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // Spark's catalog dir (and BucketedLake's bucketed tables) land
      // outside the repo/cwd, on the same tmpfs-preferring scratch base
      // as the sink round-trips
      .config("spark.sql.warehouse.dir",
        scratchBase + "/graft_warehouse")
      // Output-commit cost: v2 commits task output directly into the
      // destination (no job-commit rename pass) and the _SUCCESS marker
      // is skipped — the right trade for this engine's sinks, whose
      // progress is recorded by the landing tracker cursor and the
      // streaming commit log, not by directory-rename visibility. The
      // many-small-snapshot streaming queries pay this commit protocol
      // per micro-batch. (On a real cluster against S3/ABFS you'd swap
      // in the cloud-native committer; same reasoning.)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)

  // default master to local[32] capped at the actual core count, so
  // Verify uses every core of the host. Reducers stay at builder()'s
  // measured static 8 unless the session sets it otherwise.
  // Tests keep their explicit "4" — tiny fixtures fragment at 32
  // partitions.
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
