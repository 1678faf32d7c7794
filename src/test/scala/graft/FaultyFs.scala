package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.ForkFreeRawLocalFileSystem

/** The local file system under the `faulty:` scheme, for crash tests.
  * It counts the calls that change the tree (every file `create`,
  * `rename` and `delete`) and throws an `IOException` at the armed one,
  * which leaves the tree as a process killed at that call would. No
  * `.crc` sidecars are written. Register it with [[FaultyFs.register]]
  * and name paths with [[FaultyFs.path]].
  */
class FaultyFs extends ForkFreeRawLocalFileSystem {
  // a def, not a val: the superclass constructor already asks for it
  override def getUri: URI = URI.create("faulty:///")

  // every create and append of a file passes through here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    FaultyFs.call("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.call("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.call("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFs {
  private val calls = new AtomicInteger
  @volatile private var failAt = 0

  /** Makes `faulty:` paths resolve to [[FaultyFs]] on the test session. */
  def register(): Unit =
    TestSpark.spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)

  /** The `faulty:` path of a local directory. */
  def path(dir: java.nio.file.Path): String = "faulty://" + dir.toAbsolutePath

  /** Resets the call count and arms the `n`th call from now to fail;
    * 0 arms none.
    */
  def arm(n: Int = 0): Unit = { calls.set(0); failAt = n }

  /** Mutating calls since the last [[arm]]. */
  def count: Int = calls.get

  /** Mutating calls `body` makes, with none armed. */
  def callsOf(body: => Unit): Int = { arm(); body; count }

  private def call(op: String, f: Path): Unit =
    if (calls.incrementAndGet() == failAt)
      throw new IOException(s"injected fault at mutating call $failAt: $op $f")
}
