package graft.log

import java.io.{ByteArrayOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Try}

/** Shared state of the modelled stores: one rendezvous for racers, one
  * failure injector and one `exists` observer. Static because Hadoop
  * instantiates the filesystems itself.
  */
object ModelStores {
  @volatile private var gate = new CountDownLatch(0)
  /** The next `parties` callers of a gated operation wait (up to 2 s) for
    * each other between the operation's existence check and its effect, so
    * racers all pass the check before any of them acts.
    */
  def arm(parties: Int): Unit = gate = new CountDownLatch(parties)
  def rendezvous(): Unit = {
    val g = gate
    g.countDown()
    g.await(2, TimeUnit.SECONDS): Unit
  }

  /** The next `failNext` operations that would publish a path (a put, a
    * no-overwrite create, a rename) throw a transient IOException (a 503, a
    * namenode hiccup) instead of taking effect.
    */
  val failNext = new AtomicInteger(0)
  def maybeFail(p: Path): Unit =
    if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new IOException(s"injected transient failure on $p")

  /** Called after every `exists` answer, with the path asked about. */
  @volatile var onExists: Path => Unit = _ => ()

  lazy val staging: java.nio.file.Path = Files.createTempDirectory("graftmodelput")
}

/** A store modelled over the local filesystem: `<scheme>://<authority>/p`
  * is the local path `/p`.
  */
abstract class ModelStoreFs extends RawLocalFileSystem {
  private var uri: URI = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = URI.create(s"${name.getScheme}://${Option(name.getAuthority).getOrElse("")}/")
  }
  // the base constructor asks before `initialize` has run
  override def getUri: URI = if (uri == null) super.getUri else uri
  override def getScheme: String = getUri.getScheme
  protected def local(p: Path): java.nio.file.Path = pathToFile(p).toPath
  // the base class answers `create(path, overwrite)` without the
  // permission overload; route it there so the models see every create
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    create(f, FsPermission.getFileDefault, overwrite, bufferSize, replication, blockSize, progress)
  override def exists(p: Path): Boolean = {
    val e = super.exists(p)
    ModelStores.onExists(p)
    e
  }
}

/** An object store with a conditional PUT: `create(overwrite = false)` is
  * atomic, refused when the key exists, and the body becomes visible only
  * at close. `rename` is check-then-copy, as on S3A.
  */
class ObjectStoreModelFs extends ModelStoreFs {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val target = local(f)
    if (!overwrite && Files.exists(target)) throw new FileAlreadyExistsException(s"$f exists")
    if (!overwrite) ModelStores.rendezvous()
    val body = new ByteArrayOutputStream()
    val put = new OutputStream {
      private var closed = false
      override def write(b: Int): Unit = body.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = body.write(b, off, len)
      override def close(): Unit = if (!closed) { closed = true; publish(f, body.toByteArray, overwrite) }
    }
    new FSDataOutputStream(put, statistics)
  }

  private def publish(f: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    ModelStores.maybeFail(f)
    val target = local(f)
    Files.createDirectories(target.getParent)
    val staged = Files.createTempFile(ModelStores.staging, "put", "")
    try {
      Files.write(staged, bytes)
      if (overwrite) Files.move(staged, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE): Unit
      else
        try Files.createLink(target, staged): Unit
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$f: precondition failed (412)")
        }
    } finally Files.deleteIfExists(staged): Unit
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) return false
    ModelStores.rendezvous()
    ModelStores.maybeFail(dst)
    Files.write(local(dst), Files.readAllBytes(local(src))) // copy over whatever is there
    Files.delete(local(src))
    true
  }

  override def hasPathCapability(p: Path, capability: String): Boolean =
    capability == "fs.capability.create.conditional.overwrite" ||
      super.hasPathCapability(p, capability)
}

/** An HDFS-like store: `create(overwrite = false)` is one atomic namespace
  * operation, and `rename` atomically refuses an existing target.
  */
class HdfsModelFs extends ModelStoreFs {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    if (overwrite) super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    else {
      ModelStores.rendezvous()
      ModelStores.maybeFail(f)
      Files.createDirectories(local(f).getParent)
      val out =
        try Files.newOutputStream(local(f), StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$f exists")
        }
      new FSDataOutputStream(out, statistics)
    }

  override def rename(src: Path, dst: Path): Boolean = {
    ModelStores.rendezvous()
    ModelStores.maybeFail(dst)
    try {
      Files.createLink(local(dst), local(src))
      Files.delete(local(src))
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }
}

/** The commit protocol's one create-if-absent primitive on three stores:
  * `file:`, a modelled object store (scheme `graftobj`) and a modelled
  * HDFS-like store (`hdfs://model`). On each, two claimants race for one
  * claim slot, two holders for one index fence and two takers for one
  * commit lock, and exactly one of each wins. The takers address the log
  * through two directory aliases, so each has its own in-process monitor
  * and they meet only at the lock file, as two drivers would.
  */
class CreateIfAbsentSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def spark = graft.SparkTestSession.spark
  private val impls = Map(
    "fs.graftobj.impl" -> classOf[ObjectStoreModelFs].getName,
    "fs.hdfs.impl" -> classOf[HdfsModelFs].getName)

  override def beforeAll(): Unit =
    impls.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
  override def afterAll(): Unit =
    impls.keys.foreach(spark.sparkContext.hadoopConfiguration.unset)

  private def conf = spark.sessionState.newHadoopConf()
  private def tmpDir(): String = Files.createTempDirectory("graftcia").toFile.getAbsolutePath

  private val stores: Seq[(String, String => String)] = Seq(
    "file" -> (d => d),
    "object store" -> (d => s"graftobj:$d"),
    "hdfs-like store" -> (d => s"hdfs://model$d"))
  private val modelStores = stores.drop(1)

  /** Runs `f(0)` and `f(1)` on two threads released together. */
  private def race[T](f: Int => T): Seq[Try[T]] = {
    ModelStores.arm(2)
    val start = new CountDownLatch(1)
    val out = Array.fill[Try[T]](2)(null)
    val threads = (0 to 1).map(i => new Thread(() => { start.await(); out(i) = Try(f(i)) }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    ModelStores.arm(0)
    out.toSeq
  }

  private def claim(n: Long, i: Int, tsMs: Long = 1000L) =
    CommitClaim(n, Map(s"stream-$i" -> (0, 3)), (1 to 200).map(k => s"event-$i-$k"),
      s"writer-$i", tsMs, done = false)

  private def read(p: String): String = new String(Files.readAllBytes(
    java.nio.file.Paths.get(new Path(p).toUri.getPath)), "UTF-8")

  stores.foreach { case (store, at) =>
    test(s"$store: two claimants race for one slot; one wins, its claim reads back in full") {
      val root = at(tmpDir())
      val rivals = Seq(claim(1, 0), claim(1, 1))
      val won = race(i => new ManifestCommitLog(spark, root).tryClaim(rivals(i))).map(_.get)
      assert(won.count(identity) == 1, s"winners: $won")
      val winner = rivals(won.indexOf(true))
      assert(read(s"$root/_graft_commit/v1.tsv") == ManifestCommitLog.render(winner))
      assert(new ManifestCommitLog(spark, root).claims() == Seq(winner))
    }

    test(s"$store: two holders race for one index fence; one holds it, the other is refused") {
      val idx = s"${at(tmpDir())}/index"
      val loserDone = new CountDownLatch(1)
      val entered = new AtomicInteger(0)
      val out = race { i =>
        try graft.ops.Similarity.withIndexMutation(spark, idx, s"op-$i") {
          entered.incrementAndGet()
          // hold the fence until the rival's attempt is over
          loserDone.await(10, TimeUnit.SECONDS): Unit
        } catch {
          case e: java.util.ConcurrentModificationException => loserDone.countDown(); throw e
        }
      }
      assert(entered.get == 1)
      val refused = out.collect { case Failure(e) => e }
      assert(refused.size == 1 && refused.head.isInstanceOf[java.util.ConcurrentModificationException],
        s"outcomes: $out")
      assert(!new java.io.File(new Path(s"$idx/_mutating").toUri.getPath).exists())
    }

    test(s"$store: two takers race for one commit lock; one holds it at a time") {
      val base = tmpDir()
      Files.createDirectories(java.nio.file.Paths.get(s"$base/a/log"))
      Files.createSymbolicLink(java.nio.file.Paths.get(s"$base/b"), java.nio.file.Paths.get(s"$base/a"))
      val aliases = Seq(at(s"$base/a/log"), at(s"$base/b/log"))
      val inside = new AtomicInteger(0)
      val maxInside = new AtomicInteger(0)
      val out = race { i =>
        EventLog.withLogLock(aliases(i), conf) {
          maxInside.accumulateAndGet(inside.incrementAndGet(), math.max)
          Thread.sleep(300)
          inside.decrementAndGet()
          i
        }
      }
      assert(out.map(_.get) == Seq(0, 1))
      assert(maxInside.get == 1, "both takers held the lock at once")
      assert(!new java.io.File(s"$base/a/log/.graft.commit.lock").exists())
    }
  }

  modelStores.foreach { case (store, at) =>
    test(s"$store: a transient create failure propagates from the chain; the lock retries it") {
      val root = at(tmpDir())
      val chain = new ManifestCommitLog(spark, root)
      ModelStores.failNext.set(1)
      intercept[IOException](chain.tryClaim(claim(1, 0, tsMs = 0L)))
      assert(chain.tryClaim(claim(1, 0, tsMs = 0L)), "the failed create took the slot")
      assert(chain.tryClaim(claim(2, 1)))
      ModelStores.failNext.set(1)
      intercept[IOException](chain.markDone(2))
      chain.markDone(2)
      assert(chain.status(2).contains(true))
      // claim 1 is a stale pending claim below the tip: prune condemns it
      // by winning its fate file
      ModelStores.failNext.set(1)
      intercept[IOException](chain.prune(Map.empty, staleMs = 1000L, nowMs = 10000L))
      assert(chain.status(1).contains(false), "a failed condemn must not resolve the claim")
      chain.prune(Map.empty, staleMs = 1000L, nowMs = 10000L)
      assert(chain.status(1).isEmpty)

      ModelStores.failNext.set(2)
      assert(EventLog.withLogLock(at(tmpDir()), conf)(42) == 42)
      assert(ModelStores.failNext.get == 0)
    }
  }

  test("a bucket directory deleted between pointScan's check and Spark's drops out of the read") {
    val dir = tmpDir()
    new EventLog(spark, dir, numBuckets = 4).append(Seq(AppendRecord("stream-1", "Account", 0,
      Map.empty, Seq(EventDetail("Deposited", "{\"amount\":1}")))))
    val bucket = new java.io.File(s"$dir/events").listFiles().filter(_.getName.startsWith("bucket="))
    assert(bucket.length == 1)
    val view = new EventLog(spark, s"graftobj:$dir", numBuckets = 4)
    val checks = new AtomicInteger(0)
    ModelStores.onExists = p =>
      if (p.getName == bucket.head.getName && p.getParent.getName == "events" &&
          checks.incrementAndGet() == 1)
        // a rewrite empties the bucket just after pointScan saw it
        org.apache.commons.io.FileUtils.deleteDirectory(bucket.head)
    try assert(view.streamEvents("stream-1").collect().isEmpty)
    finally ModelStores.onExists = _ => ()
    // pointScan's check, Spark's PATH_NOT_FOUND check, the retry's check
    assert(checks.get == 3)
  }
}
