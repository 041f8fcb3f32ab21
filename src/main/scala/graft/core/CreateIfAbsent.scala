package graft.core

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path}

/** Atomic create-if-absent WITH full content: the one consensus primitive
  * of the commit protocol. It creates the claim chain's `v{N}.tsv` claims
  * and `v{N}.fate` files, the Lock-mode commit lock `.graft.commit.lock`
  * and the index mutation fence `_mutating`. The content is complete
  * before the path becomes visible. The scheme picks the mechanism:
  *  - `file`: a hidden temp file, then link(2), which fails EEXIST
  *    atomically (rename(2) REPLACES a target; Hadoop's local
  *    `create(overwrite = false)` is exists-then-create). An empty body
  *    (the commit lock) has nothing to stage: one `O_CREAT|O_EXCL` create;
  *  - HDFS-family schemes: the temp file, then `rename`, which is atomic
  *    there and refuses an existing target;
  *  - every other scheme: `create(overwrite = false)`, which object-store
  *    connectors with a conditional PUT (`If-None-Match: *`) send as one,
  *    the body visible at close. Never a rename: S3A's is check-then-copy,
  *    so two claimants could both win. Without an advertised conditional
  *    create the store is last-writer-wins, and a warning says so once.
  *
  * False means the path already existed: someone else won. Every other IO
  * failure propagates: callers treat `false` as a consensus outcome, and a
  * transient error (a 503, an HDFS hiccup) is not a lost race.
  */
private[graft] object CreateIfAbsent {
  private val HdfsLike = Set("hdfs", "viewfs", "webhdfs", "ofs", "o3fs")

  def apply(fs: FileSystem, path: Path, content: String): Boolean = {
    val bytes = content.getBytes("UTF-8")
    if (fs.exists(path)) return false // cheap pre-check before any write
    val scheme = fs.getScheme
    if (scheme != "file" && !HdfsLike(scheme)) {
      warnIfNotConditional(fs, path.getParent)
      return try { write(fs.create(path, false), bytes); true }
      catch { // at open (the pre-check lost) or at close (the PUT did)
        case _: FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    }
    if (scheme == "file" && bytes.isEmpty) // nothing to stage: O_CREAT|O_EXCL
      return try { Files.createFile(Paths.get(path.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    val tmp = new Path(path.getParent, s".${path.getName}.tmp.${java.util.UUID.randomUUID()}")
    write(fs.create(tmp, true), bytes)
    try {
      if (scheme == "file")
        try { Files.createLink(Paths.get(path.toUri.getPath), Paths.get(tmp.toUri.getPath)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else // false (HDFS) or FileAlreadyExistsException when the target exists
        try fs.rename(tmp, path)
        catch { case _: FileAlreadyExistsException => false }
    } finally fs.delete(tmp, false): Unit
  }

  private def write(out: FSDataOutputStream, bytes: Array[Byte]): Unit =
    try out.write(bytes) finally out.close()

  /** S3A publishes the capability once `fs.s3a.create.conditional.enabled`
    * is on (Hadoop >= 3.4.1). A warning, not a refusal: an unknown
    * capability name reads false, so a capable connector that predates it
    * still warns — noisy-safe, never silently unsafe.
    */
  private val warnedFs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def warnIfNotConditional(fs: FileSystem, dir: Path): Unit = {
    val capable =
      try Seq("fs.capability.create.conditional.overwrite",
          "fs.capability.conditional.create").exists(fs.hasPathCapability(dir, _))
      catch { case scala.util.control.NonFatal(_) => false }
    if (!capable && warnedFs.add(String.valueOf(fs.getUri)))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"create-if-absent on ${fs.getUri}: no atomic conditional create is " +
          "advertised — two writers could BOTH win a claim slot, the commit " +
          "lock or an index fence. On S3A enable " +
          "fs.s3a.create.conditional.enabled (Hadoop >= 3.4.1); otherwise " +
          "serialize writers externally")
  }
}
