package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `holdfs` scheme, except that creating
  * the file [[HoldCommitFs.reset]] names first sleeps `holdMs` regardless
  * of interrupts. By default that is the `_dead_letter` table's
  * `_SUCCESS` marker, the last step of that table's driver-side job
  * commit. It gives a spec a commit that is still running when it stops
  * or interrupts the caller.
  */
class HoldCommitFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("holdfs://lake/")
  override def getScheme: String = "holdfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    held(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    held(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  private def held(f: Path)(create: => FSDataOutputStream): FSDataOutputStream = {
    val hold = HoldCommitFs.holds(f)
    if (hold) {
      HoldCommitFs.held.countDown()
      val until = System.nanoTime() + HoldCommitFs.holdMs * 1000000L
      while (System.nanoTime() < until)
        try Thread.sleep(10) catch { case _: InterruptedException => }
    }
    val out = create
    if (hold) HoldCommitFs.released = true
    out
  }
}

object HoldCommitFs {
  val holdMs = 2000L
  val deadLetterSuccess: Path => Boolean =
    f => f.getName == "_SUCCESS" && f.getParent.getName == "_dead_letter"
  @volatile var holds: Path => Boolean = deadLetterSuccess
  @volatile var held = new java.util.concurrent.CountDownLatch(1)
  @volatile var released = false
  def reset(hold: Path => Boolean = deadLetterSuccess): Unit = {
    holds = hold
    held = new java.util.concurrent.CountDownLatch(1)
    released = false
  }
}
