package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. Times are epoch microseconds. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = -1L
  def seconds: Double = (end - start) / 1e6
}

/** Task metrics summed over one stage (or one job). */
final class TaskSums {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  def +=(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
  }
}

/** A Spark job, attributed to the innermost benchmark span that was open
  * on the submitting thread, and to its micro-batch when a stream ran it.
  */
final class JobRec(val jobId: Int, val span: Int, val batchId: Long,
                   val start: Long, val stages: Seq[Int]) {
  var end: Long = -1L
}

/** Rows, files and partitions one write command reported, attributed to
  * the last job that ended before it: the write callbacks and the job
  * events are delivered in order on Spark's shared listener queue.
  */
final case class WriteRec(jobId: Int, rows: Long, files: Long, bytes: Long, parts: Long)

/** Spans around the benchmark's calls into each layer, plus (when
  * traced) Spark job/stage/task metrics, streaming progress and write
  * metrics attributed to those spans. Everything stays in memory until
  * the run ends.
  *
  * Untraced runs keep only the spans and one counter listener for lake
  * rows written (needed by `write_amp`); traced runs register the full
  * listeners and tag every job with its span through a local property.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val SpanKey = "graftbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val nanoBase = System.nanoTime()
  private val microBase = System.currentTimeMillis() * 1000L
  def now: Long = microBase + (System.nanoTime() - nanoBase) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), now)
    spans += s
    open = s :: open
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = now
      open = open.tail
      if (traced) sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Ids of `s` and every span opened inside it. */
  def subtree(s: Span): Set[Int] = {
    val ids = mutable.Set(s.id)
    spans.iterator.drop(s.id + 1).foreach(c => if (ids.contains(c.parent)) ids += c.id)
    ids.toSet
  }

  /** Child spans' union length inside `s`, for self time. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.drop(s.id + 1).filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s.seconds - Recorder.unionMicros(kids) / 1e6
  }

  // ---- listener state (guarded by `lock`) --------------------------------
  private val lock = new Object
  private var events = 0L
  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var rowsWritten = 0L
  private var listenerNanos = 0L
  private var lastEndedJob = -1
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageSums = mutable.HashMap.empty[Int, TaskSums]
  val progress = ArrayBuffer.empty[QueryProgressEvent]
  val writes = ArrayBuffer.empty[WriteRec]

  private def timed(f: => Unit): Unit = lock.synchronized {
    val t = System.nanoTime()
    events += 1
    f
    listenerNanos += System.nanoTime() - t
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobsStarted += 1
      if (traced) {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        jobs(e.jobId) = new JobRec(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(-1),
          prop(BatchKey).map(_.toLong).getOrElse(-1L), e.time * 1000L, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobsEnded += 1
      lastEndedJob = e.jobId
      if (traced) jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        rowsWritten += m.outputMetrics.recordsWritten
        if (traced) {
          val s = stageSums.getOrElseUpdate(e.stageId, new TaskSums)
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          s.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed { progress += e }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      qe.executedPlan.foreach { p =>
        val m = p.metrics
        if (m.contains("numParts") && m.contains("numOutputRows"))
          writes += WriteRec(lastEndedJob, m("numOutputRows").value, m.get("numFiles").map(_.value).getOrElse(0L),
            m.get("numOutputBytes").map(_.value).getOrElse(0L), m("numParts").value)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  if (traced) {
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(writeListener)
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    if (traced) {
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(writeListener)
    }
  }

  /** Wait until every started job has ended and no listener event has
    * arrived for a while: listener events are delivered asynchronously.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var stableSince = System.nanoTime()
    var done = false
    while (!done && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val (n, balanced) = lock.synchronized((events, jobsStarted == jobsEnded))
      if (n != last) { last = n; stableSince = System.nanoTime() }
      else if (balanced && System.nanoTime() - stableSince > 150000000L) done = true
    }
  }

  def totalRowsWritten: Long = lock.synchronized(rowsWritten)
  def listenerSeconds: Double = lock.synchronized(listenerNanos / 1e9)
  def listenerEvents: Long = lock.synchronized(events)

  // ---- attribution ---------------------------------------------------------
  def jobsIn(ids: Set[Int]): Seq[JobRec] = lock.synchronized(jobs.values.filter(j => ids.contains(j.span)).toSeq)
  def jobsOfBatch(batchId: Long, streamSpan: Set[Int]): Seq[JobRec] = lock.synchronized(
    jobs.values.filter(j => j.batchId == batchId && streamSpan.contains(j.span)).toSeq)
  def sums(js: Seq[JobRec]): TaskSums = lock.synchronized {
    val t = new TaskSums
    js.foreach(_.stages.foreach(st => stageSums.get(st).foreach(t += _)))
    t
  }
  def writesOf(js: Seq[JobRec]): Seq[WriteRec] = lock.synchronized {
    val ids = js.map(_.jobId).toSet
    writes.filter(w => ids.contains(w.jobId)).toSeq
  }
}

object Recorder {
  /** Length of the union of [start, end) intervals, in their unit. */
  def unionMicros(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
