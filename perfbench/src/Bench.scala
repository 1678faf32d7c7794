package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.time.Duration
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.GraftSession
import graft.codec.DynamoDbJson
import graft.ingest.{Ingest, TableWriter}
import graft.orchestrate.{CdcTracker, Persist}
import graft.query.{QuerySurface, SqlSurface}
import graft.sources.Manifest
import graft.streaming.CdcStream

/** One workload: the CDC update shape, the input sizes, and how many of
  * the landed minutes the cron tracker drains before the lake hands off
  * to the streaming merge for the rest.
  */
final case class Workload(name: String, shape: Shape, sizes: Sizes, trackerMinutes: Int)

object Workloads {
  private val lake = Sizes(historyEvents = 24000, historyDays = 6, cdcMinutes = 12,
    eventsPerMinute = 200, recentRows = 1000)
  val all: Map[String, Workload] = Seq(
    Workload("cdc_hot", Hot, lake, trackerMinutes = 3),
    Workload("cdc_scatter", Scatter, lake, trackerMinutes = 10)
  ).map(w => w.name -> w).toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Highest whole percentile with at least 10 of `n` samples beyond it. */
  def tailPercentile(n: Int): Int =
    math.max(50, math.min(99, math.floor(100.0 - 1000.0 / n + 1e-9).toInt))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Files of a directory tree, as (path relative to the root, bytes),
  * skipping the `_`/`.` metadata files writers leave.
  */
object Listing {
  def files(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => (root.relativize(p).toString, Files.size(p))).toVector
      finally w.close()
    }
  }
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)) finally w.close()
  }
}

/** One tick of the drain, tracker or streaming. */
final case class Tick(kind: String, seconds: Double)

/** The lifecycle one workload drives through the program's public
  * layers, closed loop on the calling thread: export load, CDC landing,
  * tracker ticks then streaming micro-batches, lookups, scans, compare.
  */
final class Lifecycle(spark: SparkSession, rec: Recorder, in: Inputs, dir: Path, w: Workload) {
  val lake: String = dir.resolve("lake").toString
  val landing: String = dir.resolve("landing").toString
  private val jobDir = dir.resolve("jobs")
  val planned = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (files, backlog) per tracker tick
  var streamSpanId: Int = -1
  var streamProgress: Seq[StreamingQueryProgress] = Seq.empty

  /** Manifest + export tracker → decode → lake rows → bulk write. */
  def load(path: String = lake): Double = {
    val t0 = rec.now
    val files = rec.span("sources.manifest_read") {
      val tracker = Manifest.readExportTracker(in.exportTracker)
      val dataDir = tracker.dataDir(in.exportRoot)
      val keys = Manifest.readDataFiles(spark, in.manifestDir).select("dataFileS3Key")
        .collect().map(_.getString(0)).sorted.toSeq
      require(keys.forall(k => s"${in.exportRoot}/$k".startsWith(dataDir)), "manifest outside the export dir")
      keys.map(k => s"${in.exportRoot}/$k")
    }
    rec.span("ingest.bulk_write") {
      val decoded = DynamoDbJson.decodeExportLines(spark.read.text(files: _*))
      TableWriter.bulkWrite(Ingest.toLakeRows(decoded), path)
    }
    (rec.now - t0) / 1e6
  }

  /** Land CDC events (by default all of them) minute-partitioned, then
    * stamp the minute files with increasing modification times, as if
    * each had arrived in its own minute (the streaming source takes files
    * in that order).
    */
  def land(cdc: DataFrame = spark.read.parquet(in.cdcPath)): Double = {
    rec.span("ingest.land") { Ingest.landCdc(cdc, landing) }
    val t = System.currentTimeMillis() - 3600000L
    relFiles().sorted.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(Paths.get(landing, f), FileTime.fromMillis(t + i * 1000L))
    }
    rec.named("ingest.land").last.seconds
  }

  private def relFiles(): Seq[String] =
    Listing.files(landing).map(_._1).filter(_.endsWith(".json"))

  private def minuteOf(f: String): String = f.split('/').init.mkString("/")

  /** Tracker ticks over the first `trackerMinutes` minutes, landing
    * retention, then the streaming merge for the remaining minutes.
    */
  def drain(): Seq[Tick] = {
    val minutes = relFiles().map(minuteOf).distinct.sorted
    val first = CdcTracker.parsePartition(minutes.head)
    var state = CdcTracker.State(CdcTracker.partitionOf(first.minus(Duration.ofMinutes(1))),
      None, None, readyToRunNext = true)
    // catch-up: every landed minute is already past the 2-minute watermark
    val now = CdcTracker.parsePartition(minutes.last).plus(Duration.ofMinutes(3))
    val handoff = CdcTracker.parsePartition(minutes(math.min(w.trackerMinutes, minutes.size) - 1))
    val statePath = jobDir.resolve("tracker.json").toString
    var n = 0
    val trackerTicks = scala.collection.mutable.ArrayBuffer.empty[Tick]
    while (CdcTracker.parsePartition(state.lastProcessedPartition).isBefore(handoff)) {
      val t0 = rec.now
      rec.span("orchestrate.tick") {
        val plan = rec.span("orchestrate.plan") {
          val listed = relFiles()
          val p = CdcTracker.plan(state, now, listed, maxFiles = 100, maxInterval = Duration.ofMinutes(1))
          planned += ((p.map(_.files.size).getOrElse(0),
            listed.count(f => minuteOf(f) > state.lastProcessedPartition)))
          p
        }
        plan match {
          case Some(p) =>
            val input = rec.span("orchestrate.persist") {
              val path = jobDir.resolve(s"input_$n.json").toString
              Persist.writeJobInput(Persist.JobInput(p.startAfterPartition, p.endBeforePartition, p.files), path)
              state = CdcTracker.launched(state, p, s"run-$n")
              Persist.writeState(state, statePath)
              Persist.readJobInput(path)
            }
            if (input.s3uriList.nonEmpty) {
              val delta = rec.span("ingest.read_delta") {
                Ingest.toLakeRows(Ingest.readCdcFiles(spark, input.s3uriList.map(f => s"$landing/$f")))
              }
              rec.span("merge.commit") { TableWriter.mergeCommit(spark, delta, lake) }
            }
            state = rec.span("orchestrate.persist") {
              Persist.writeState(CdcTracker.completed(state), statePath)
              Persist.readState(statePath).get
            }
          case None => state = CdcTracker.completed(state)
        }
      }
      trackerTicks += Tick("tracker", (rec.now - t0) / 1e6)
      n += 1
    }
    rec.span("ingest.prune_landing") { Ingest.pruneLanding(landing, state.lastProcessedPartition) }
    val streamTicks = if (relFiles().isEmpty) Seq.empty else rec.span("drain.stream") {
      streamSpanId = rec.spans.last.id
      val q = CdcStream.mergeStream(spark, landing, lake, dir.resolve("checkpoint").toString,
        maxFilesPerTrigger = 1, availableNow = true)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      streamProgress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      streamProgress.map(p => Tick("stream", p.durationMs.get("triggerExecution").toDouble / 1000.0))
    }
    trackerTicks.toSeq ++ streamTicks
  }

  private def lakeDf: DataFrame = TableWriter.read(spark, lake)

  /** `latestOfKey(account, k = 3)`; true when it returns exactly the
    * account's 3 newest rows in their final version.
    */
  def lookup(account: String): (Boolean, Int) = {
    val got = rec.span("query.lookup") {
      QuerySurface.latestOfKey(lakeDf, "account", account, "create_at", 3)
        .select("id", "update_at", "note").collect()
    }
    val want = in.gen.newestOf(account)
    val ok = got.length == want.size && got.zip(want).forall { case (r, it) =>
      r.getString(0) == it.id && r.getString(1) == it.updateAt && r.getString(2) == it.note
    }
    (ok, got.length)
  }

  val scanKinds: Seq[String] = Seq("count", "distinct", "sql_count", "sql_preview")

  /** One full-table read; true when its answer matches the truth. */
  def scan(kind: String): Boolean = rec.span("query.scan") {
    kind match {
      case "count" => QuerySurface.countRows(lakeDf).head().getLong(0) == in.truthRows
      case "distinct" => QuerySurface.distinctValues(lakeDf, "account").count() == in.accounts
      case "sql_count" =>
        SqlSurface.registerLake(spark, lake, "transactions")
        SqlSurface.countRows(spark, "transactions").head().getLong(0) == in.truthRows
      case "sql_preview" =>
        SqlSurface.registerLake(spark, lake, "transactions")
        SqlSurface.previewSql(spark, "transactions", 10).select("id").collect()
          .map(_.getString(0)).toSeq == in.previewIds
    }
  }

  /** `compare(truth, lake)` with both sides counted; true when both are empty. */
  def compare(): Boolean = rec.span("query.compare") {
    val truth = spark.read.parquet(in.truthPath)
    val (onlyTruth, onlyLake) = QuerySurface.compare(truth,
      lakeDf.select(truth.columns.map(col).toIndexedSeq: _*))
    onlyTruth.count() == 0 && onlyLake.count() == 0
  }

}

object Main {
  private final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                                trace: Boolean = false, work: String = "", traceOut: String = "")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  private val loadReps = 3
  private val compareReps = 7
  private val minLookups = 25
  private val warmMinutes = 6
  private val warmLookups = 8
  private val warmCompares = 3
  private val minScans = 8

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val w = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    val work = Paths.get(o.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[graftbench] +${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s $what")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores.toString)
    // every micro-batch's progress must stay readable after the drain
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    def sinceStart: Double = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionS = sinceStart

    // ---- set-up: generate the workload, write its export, CDC and truth
    // tables, warm up; setup_s is the wall time from JVM start to the end
    // of the warm-up
    val in = Inputs.generate(work.resolve("inputs"), o.seed, w.sizes, w.shape)
    Inputs.writeTables(spark, in)
    val inputsS = sinceStart - sessionS
    mark("inputs done")
    warmUp(spark, in, work.resolve("warm_up"), w)
    val setupS = sinceStart
    val warmS = setupS - sessionS - inputsS
    mark("warm-up done")
    val rec = new Recorder(spark, o.trace)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val deadline = rec.now + o.seconds * 1000000L
    var attempted = 0L
    var failed = 0L
    def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

    val run = new Lifecycle(spark, rec, in, work.resolve("run"), w)
    // ---- load: the export into a fresh lake, repeated; the last one is kept
    val loadS = (0 until loadReps).map { r =>
      val s = run.load(if (r == loadReps - 1) run.lake else work.resolve(s"load_$r").toString)
      op(true)
      s
    }
    (0 until loadReps - 1).foreach(r => Listing.delete(work.resolve(s"load_$r")))
    val loadFiles = Listing.files(run.lake)

    mark("load done")
    // ---- CDC: land, then drain closed loop
    val landS = run.land()
    val landFiles = Listing.files(run.landing)
    rec.awaitQuiet()
    val rows0 = rec.totalRowsWritten
    val drainT0 = rec.now
    val ticks = run.drain()
    val drainS = (rec.now - drainT0) / 1e6
    System.err.println("[graftbench] ticks " + ticks.map(t => f"${t.seconds}%.3f").mkString(" "))
    rec.awaitQuiet()
    val rowsWritten = rec.totalRowsWritten - rows0
    ticks.foreach(_ => op(true))
    val lakeFiles = Listing.files(run.lake)

    mark("drain done")
    // ---- reads: lookups and scans until the window closes
    val pick = new Random(o.seed * 7919L + 17L)
    val lookupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val scanS = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var rowsReturned = 0L
    var i = 0
    while ((lookupS.size < minLookups || scanS.size < minScans || rec.now < deadline) && i < 20000) {
      if (i % 4 == 3 || lookupS.size >= minLookups && scanS.size < minScans && rec.now >= deadline) {
        val kind = run.scanKinds(scanS.size % run.scanKinds.size)
        op(run.scan(kind))
        scanS += ((kind, rec.named("query.scan").last.seconds))
      } else {
        val (ok, n) = run.lookup(in.gen.randomAccount(pick))
        op(ok)
        rowsReturned += n
        lookupS += rec.named("query.lookup").last.seconds
      }
      i += 1
    }

    mark("reads done")
    // ---- correctness gate: compare(truth, lake); the count scans above
    // already checked the lake's row count against the truth
    val compareS = (0 until compareReps).map { _ =>
      op(run.compare())
      rec.named("query.compare").last.seconds
    }
    System.err.println("[graftbench] loads " + loadS.map(x => f"$x%.3f").mkString(" ") +
      " compares " + compareS.map(x => f"$x%.3f").mkString(" ") +
      " lookups " + Seq(0.1, 0.25, 0.5, 0.75, 0.9).map(q => f"${Stats.quantile(lookupS.toSeq, q)}%.3f").mkString(" "))
    rec.awaitQuiet()
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val events = in.events.size
    val tickS = ticks.map(_.seconds)
    val tickP = Stats.tailPercentile(tickS.size)
    // fixed by the minimum count, so a time-filled probe keeps its percentile
    val lookupP = Stats.tailPercentile(minLookups)
    val liveRows = in.truthRows
    val endToEnd = Seq(
      ("setup_s", setupS, "s", f"JVM start to warm-up end: session $sessionS%.2f + inputs $inputsS%.2f + warm-up $warmS%.2f"),
      ("load_rows_per_s", in.exportRows / Stats.median(loadS), "rows/s", s"${in.exportRows} rows, median of $loadReps loads"),
      ("cdc_events_per_s", events / (landS + drainS), "events/s", s"$events events, land ${"%.2f".format(landS)} s + drain ${"%.2f".format(drainS)} s"),
      ("tick_p50_s", Stats.median(tickS), "s", s"n=${tickS.size} (${ticks.count(_.kind == "tracker")} tracker, ${ticks.count(_.kind == "stream")} stream)"),
      ("tick_tail_s", Stats.quantile(tickS, tickP / 100.0), "s", s"p$tickP, n=${tickS.size}" +
        (if (tickS.size < 21) ": too few ticks for a percentile above the median" else "")),
      ("lookup_p50_s", Stats.median(lookupS.toSeq), "s", s"n=${lookupS.size}"),
      ("lookup_tail_s", Stats.quantile(lookupS.toSeq, lookupP / 100.0), "s", s"p$lookupP, n=${lookupS.size}"),
      // kinds differ in cost, so a median over the mix would sit between them
      ("scan_p50_s", Stats.mean(scanS.groupBy(_._1).values.map(ks => Stats.median(ks.map(_._2).toSeq)).toSeq), "s",
        s"mean of the per-kind medians, n=${scanS.size} over ${run.scanKinds.size} kinds"),
      ("compare_s", Stats.median(compareS), "s", s"median of $compareReps, $liveRows rows each side"),
      ("write_amp", rowsWritten.toDouble / events, "rows/event", s"$rowsWritten lake rows written for $events events"),
      ("lake_bytes_per_row", lakeFiles.map(_._2).sum.toDouble / liveRows, "B/row", s"${lakeFiles.size} files, $liveRows live rows"),
      ("peak_rss_mb", peakRssMb(), "MB", "VmHWM"))
    val errorRate = failed.toDouble / attempted
    println(s"workload ${w.name} seed ${o.seed} trace ${if (o.trace) 1 else 0}: " +
      s"${in.exportRows} export rows, $events CDC events over ${w.sizes.cdcMinutes} minutes, ${in.truthRows} final rows")
    endToEnd.foreach { case (n, v, u, note) => println(f"  $n%-20s $v%14.4f $u%-10s $note") }
    println(f"  error_rate           $errorRate%14.4f ratio      $failed failed of $attempted operations")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd.map { case (n, v, u, _) => (n, v, u) }
      else {
        val layer = new LayerMetrics(rec, run, cores, events, loadFiles, landFiles, lakeFiles,
          rowsReturned, gcS, heapPeakMb, tickS).all
        layer.foreach { case (n, v, u) => println(f"  $n%-40s $v%16.4f $u") }
        printSelfTimes(rec)
        if (o.traceOut.nonEmpty) writeTrace(rec, Paths.get(o.traceOut))
        layer
      }
    mark("gate done")
    rec.close()
    spark.stop()
    mark("stopped")
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** A rehearsal on a throwaway copy of the lake, so the timed phases
    * start on a warm JIT: each operation's cost is mostly fixed
    * planning, scheduling and commit work, which takes a dozen or so
    * merges, and several compares, to reach steady state. Loads the
    * export, lands the first CDC minutes and drains them as the timed run
    * does (tracker ticks, then micro-batches), and runs lookups, each scan
    * and compares. Answers are not checked: this lake never sees the
    * whole CDC.
    */
  private def warmUp(spark: SparkSession, in: Inputs, dir: Path, w: Workload): Unit = {
    val rec = new Recorder(spark, traced = false)
    try {
      val run = new Lifecycle(spark, rec, in, dir, w.copy(trackerMinutes = warmMinutes / 2))
      run.load()
      val minutes = in.events.map(_.updateAt.take(16)).distinct.take(warmMinutes)
      run.land(spark.read.parquet(in.cdcPath).filter(col("update_at").substr(1, 16).isin(minutes: _*)))
      run.drain()
      val r = new Random(0L)
      (0 until warmLookups).foreach(_ => run.lookup(in.gen.randomAccount(r)))
      run.scanKinds.foreach(run.scan)
      (0 until warmCompares).foreach(_ => run.compare())
    } finally rec.close()
    Listing.delete(dir)
  }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  private def printSelfTimes(rec: Recorder): Unit = {
    println("  span                          count    total_s     self_s")
    rec.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      println(f"  $n%-28s ${ss.size}%6d ${ss.map(_.seconds).sum}%10.3f ${ss.map(rec.selfSeconds).sum}%10.3f")
    }
  }

  /** Spans and jobs as JSON lines, written once the run has ended. */
  private def writeTrace(rec: Recorder, out: Path): Unit = {
    Option(out.getParent).foreach(Files.createDirectories(_))
    val lines = rec.spans.map(s =>
      s"""{"span": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_us": ${s.start}, "end_us": ${s.end}, "self_s": ${rec.selfSeconds(s)}}""") ++
      rec.jobs.values.map { j =>
        val t = rec.sums(Seq(j))
        s"""{"job": ${j.jobId}, "span": ${j.span}, "batch": ${j.batchId}, "start_us": ${j.start}, "end_us": ${j.end}, """ +
          s""""tasks": ${t.tasks}, "run_ms": ${t.runMs}, "input_bytes": ${t.inputBytes}, "shuffle_write_bytes": ${t.shuffleWriteBytes}, "output_rows": ${t.outputRecords}}"""
      } ++
      rec.writes.map(wr => s"""{"write_after_job": ${wr.jobId}, "rows": ${wr.rows}, "files": ${wr.files}, "bytes": ${wr.bytes}, "partitions": ${wr.parts}}""")
    Files.write(out, lines.asJava)
  }
}

/** Per-layer metrics of a traced run, named after the program's modules. */
final class LayerMetrics(rec: Recorder, run: Lifecycle, cores: Int, events: Int,
                         loadFiles: Seq[(String, Long)], landFiles: Seq[(String, Long)],
                         lakeFiles: Seq[(String, Long)], rowsReturned: Long,
                         gcS: Double, heapPeakMb: Double, tickS: Seq[Double]) {
  import Stats._

  private def secs(name: String): Seq[Double] = rec.named(name).map(_.seconds)
  private def perSpan(name: String)(f: TaskSums => Double): Double =
    mean(rec.named(name).map(s => f(rec.sums(rec.jobsIn(rec.subtree(s))))))

  /** Micro-batches that merged data, as the streaming listener saw them. */
  private val batches = rec.progress.map(_.progress).filter(_.numInputRows > 0).toSeq

  /** One merge commit: wall seconds and the jobs it ran. */
  private case class Commit(wall: Double, jobs: Seq[JobRec])

  private val commits: Seq[Commit] = {
    val tracker = rec.named("merge.commit").map(s => Commit(s.seconds, rec.jobsIn(rec.subtree(s))))
    val stream = if (run.streamSpanId < 0) Seq.empty else {
      val ids = rec.subtree(rec.spans(run.streamSpanId))
      batches.map(p => Commit(p.durationMs.get("addBatch").toDouble / 1000.0,
        rec.jobsOfBatch(p.batchId, ids)))
    }
    tracker ++ stream
  }

  private def perCommit(f: (Commit, TaskSums) => Double): Double =
    mean(commits.map(c => f(c, rec.sums(c.jobs))))

  private def driverOnly(c: Commit): Double =
    c.wall - Recorder.unionMicros(c.jobs.map(j => (j.start, j.end))) / 1e6

  private def lakeLayout: (Double, Double) = {
    val perPartition = lakeFiles.groupBy(_._1.split('/').init.mkString("/")).values.map(_.size)
    (lakeFiles.size.toDouble, if (perPartition.isEmpty) 0.0 else perPartition.max.toDouble)
  }

  private def progress(key: String): Double =
    median(batches.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0) / 1000.0))

  def all: Seq[(String, Double, String)] = {
    val mergeSums = commits.map(c => rec.sums(c.jobs))
    val rowsWritten = mergeSums.map(_.outputRecords).sum.toDouble
    val wall = commits.map(_.wall).sum
    val (lakeFileCount, maxPerPartition) = lakeLayout
    Seq(
      ("sources.manifest_read_s", median(secs("sources.manifest_read")), "s"),
      ("ingest.bulk_write_s", median(secs("ingest.bulk_write")), "s"),
      ("ingest.bulk_write.input_bytes", perSpan("ingest.bulk_write")(_.inputBytes.toDouble), "B"),
      ("ingest.bulk_write.shuffle_bytes", perSpan("ingest.bulk_write")(_.shuffleWriteBytes.toDouble), "B"),
      ("ingest.bulk_write.task_cpu_s", perSpan("ingest.bulk_write")(_.cpuNs / 1e9), "s"),
      ("ingest.bulk_write.files", loadFiles.size.toDouble, "count"),
      ("ingest.land_s", median(secs("ingest.land")), "s"),
      ("ingest.land_files", landFiles.size.toDouble, "count"),
      ("ingest.land_bytes", landFiles.map(_._2).sum.toDouble, "B"),
      ("orchestrate.tick_plan_s", median(secs("orchestrate.plan")), "s"),
      ("orchestrate.persist_s", median(secs("orchestrate.persist")), "s"),
      ("orchestrate.tick_self_s", median(rec.named("orchestrate.tick").map(rec.selfSeconds)), "s"),
      ("orchestrate.files_per_tick", mean(run.planned.map(_._1.toDouble).toSeq), "count"),
      ("orchestrate.backlog_files_max", run.planned.map(_._2).max.toDouble, "count"),
      ("streaming.batch_s", progress("triggerExecution"), "s"),
      ("streaming.add_batch_s", progress("addBatch"), "s"),
      ("streaming.latest_offset_s", progress("latestOffset"), "s"),
      ("streaming.query_planning_s", progress("queryPlanning"), "s"),
      ("streaming.wal_commit_s", progress("walCommit"), "s"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("merge.commit_s", median(commits.map(_.wall)), "s"),
      ("merge.driver_only_s", median(commits.map(driverOnly)), "s"),
      ("merge.jobs_per_tick", mean(commits.map(_.jobs.size.toDouble)), "count"),
      ("merge.tasks_per_tick", perCommit((_, t) => t.tasks.toDouble), "count"),
      ("merge.busy_ratio", mergeSums.map(_.runMs).sum / 1000.0 / (wall * cores), "ratio"),
      ("merge.input_bytes_per_tick", perCommit((_, t) => t.inputBytes.toDouble), "B"),
      ("merge.shuffle_bytes_per_tick", perCommit((_, t) => t.shuffleWriteBytes.toDouble), "B"),
      ("merge.output_bytes_per_tick", perCommit((_, t) => t.outputBytes.toDouble), "B"),
      ("merge.rows_written_per_tick", rowsWritten / commits.size, "rows"),
      ("merge.partitions_rewritten_per_tick",
        mean(commits.map(c => rec.writesOf(c.jobs).map(_.parts).sum.toDouble)), "count"),
      ("merge.useful_write_ratio", events / rowsWritten, "ratio"),
      ("lake.files", lakeFileCount, "count"),
      ("lake.max_files_per_partition", maxPerPartition, "count"),
      ("lake.bytes", lakeFiles.map(_._2).sum.toDouble, "B"),
      ("query.lookup_rows_read_per_result",
        rec.named("query.lookup").map(s => rec.sums(rec.jobsIn(rec.subtree(s))).inputRecords).sum.toDouble /
          math.max(1L, rowsReturned), "rows"),
      ("query.lookup_bytes_read", perSpan("query.lookup")(_.inputBytes.toDouble), "B"),
      ("query.scan_bytes_read", perSpan("query.scan")(_.inputBytes.toDouble), "B"),
      ("query.compare_shuffle_bytes", perSpan("query.compare")(_.shuffleWriteBytes.toDouble), "B"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.tick_p50_s", median(tickS), "s"),
      ("trace.listener_s", rec.listenerSeconds, "s"),
      ("trace.listener_events", rec.listenerEvents.toDouble, "count"))
  }
}
