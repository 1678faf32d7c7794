package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** What a block of code made Spark do on the shared test session:
  * the jobs it started and the file bytes it read.
  */
object SparkJobs {
  final case class Fired(jobs: Int, fileBytesRead: Long)

  /** Spark jobs started by `body`. */
  def jobsFiredBy(body: => Unit): Int = fired(body).jobs

  /** Jobs started by `body`, counted by job group, and the bytes read
    * through Hadoop file systems while it ran. A local session's tasks
    * run in this JVM, so the file systems' statistics see every file a
    * task reads; unlike a task's input metrics, they leave out reads of
    * cached or checkpointed blocks. The listener bus is asynchronous,
    * so a marker job run afterwards fences the count: once its start
    * event arrives, every earlier job's has too.
    */
  def fired(body: => Unit): Fired = {
    val sc = TestSpark.spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val bytesBefore = fileBytesRead()
      val bytes = try { body; fileBytesRead() - bytesBefore }
        finally sc.setJobGroup(fence, "listener fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener fence job never arrived")
      Fired(jobs.get, bytes)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def fileBytesRead(): Long =
    FileSystem.getGlobalStorageStatistics.iterator().asScala
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).sum
}
