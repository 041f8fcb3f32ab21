package graft.log

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The log's commit lock is re-entrant for the thread that holds it, and
  * only for that thread.
  */
class LogLockSpec extends AnyFunSuite {
  test("a nested withLogLock on the holding thread returns at once; other threads still wait") {
    val dir = Files.createTempDirectory("graftlock").toFile.getAbsolutePath
    val conf = new org.apache.hadoop.conf.Configuration()
    val lockFile = new File(dir, ".graft.commit.lock")
    @volatile var entered = 0L
    var released = 0L
    val rival = new Thread(() => EventLog.withLogLock(dir, conf) { entered = System.nanoTime() })
    val t0 = System.nanoTime()
    val out = EventLog.withLogLock(dir, conf) {
      val inner = EventLog.withLogLock(dir, conf)(EventLog.withLogLock(dir, conf)(42))
      assert(lockFile.exists(), "an inner exit must not release the outer hold")
      rival.start()
      Thread.sleep(300)
      assert(entered == 0L, "another thread entered a held section")
      released = System.nanoTime()
      inner
    }
    rival.join(10000)
    assert(out == 42)
    assert(released - t0 < 5000L * 1000000L, "the nested acquire waited")
    assert(entered >= released, "the rival entered before the holder left")
    assert(!lockFile.exists())
  }
}
