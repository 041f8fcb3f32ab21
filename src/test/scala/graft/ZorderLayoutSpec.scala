package graft

import graft.ops.Layout
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order clustering: key correctness against a bit-twiddling reference,
  * and the actual payoff — per-file min/max envelopes that prune on EVERY
  * interleaved dimension, where a one-dimensional sort prunes on one.
  */
class ZorderLayoutSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** Reference Morton interleave for 2 dims. */
  private def morton2(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, b) =>
      acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }

  test("zorderKey matches the bit-twiddling reference on random coordinates") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zorderKey(Seq(col("x"), col("y")), bitsPerDim = 10).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == morton2(x, y, 10), s"($x,$y)")
    }
  }

  test("scaleTo clamps and spreads a numeric range over [0, 2^bits)") {
    val s = spark
    import s.implicits._
    // includes the ANSI landmines: a far-out-of-range sentinel and NaN must
    // CLAMP (doc contract), not throw on the long cast
    val vals = Seq(-5.0, 0.0, 25.0, 50.0, 99.9, 100.0, 140.0, 1e300, Double.NaN)
      .toDF("v")
      .select(Layout.scaleTo(col("v"), 0.0, 100.0, 8).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(vals.head == 0L && vals(6) == 255L, "out-of-range clamps to the ends")
    assert(vals(2) == 64L && vals(3) == 128L, "in-range maps linearly")
    assert(vals(7) == 255L && vals(8) == 255L, "1e300 and NaN clamp to the top bucket")
    assert(vals.forall(b => b >= 0 && b <= 255))
  }

  test("z-order files prune on BOTH dimensions; a one-dim sort prunes on one") {
    val s = spark
    import s.implicits._
    val nFiles = 32
    // deterministic uniform 2-D points, dims independent of row order
    val pts = s.range(100000).select(
      col("id"),
      pmod(xxhash64(col("id"), lit("a")), lit(1024)).as("a"),
      pmod(xxhash64(col("id"), lit("b")), lit(1024)).as("b"))
    val base = Files.createTempDirectory("graftz").toFile.getAbsolutePath

    // layout 1: classic single-column sort (range-partitioned by a)
    pts.repartitionByRange(nFiles, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$base/linear")
    // layout 2: z-ordered on (a, b)
    Layout.zorderRepartition(pts, Seq(col("a"), col("b")), nFiles, bitsPerDim = 10)
      .write.parquet(s"$base/zorder")

    def overlapping(path: String, pred: (String, Long)): Long = {
      val env = Layout.fileEnvelopes(s.read.parquet(path), Seq("a", "b"))
      val (dim, bound) = pred
      env.filter(col(s"min_$dim") < bound).count()
    }
    val total = Layout.fileEnvelopes(s.read.parquet(s"$base/zorder"), Seq("a", "b")).count()
    assert(total.toInt == nFiles)

    // predicate on the SORT dimension: both layouts prune well
    val linA = overlapping(s"$base/linear", ("a", 128L))
    val zA = overlapping(s"$base/zorder", ("a", 128L))
    assert(linA <= nFiles / 4, s"linear must prune its own sort dim (read $linA/$nFiles)")
    assert(zA <= nFiles / 2, s"z-order must still prune dim a (read $zA/$nFiles)")

    // predicate on the OTHER dimension: the one-dim sort reads everything,
    // z-order keeps pruning — this asymmetry is the whole point
    val linB = overlapping(s"$base/linear", ("b", 128L))
    val zB = overlapping(s"$base/zorder", ("b", 128L))
    assert(linB == nFiles.toLong, "every a-sorted file spans all of b")
    assert(zB <= nFiles / 2,
      s"z-order must prune the second dimension too (read $zB/$nFiles)")
  }

  test("z-order compact of a bucket subset writes at most filesPerBucket files per bucket") {
    val s = spark
    import s.implicits._
    val base = 1700000000000L
    val rows = (1 to 2000).map(i =>
      (s"z${i % 200}", "User", "Evt", s"""{"i":$i}""", i.toLong, base + i * 60000L))
      .toDF("aggregate_id", "aggregate_kind", "kind", "body", "seq", "tms")
    val tDim = Layout.scaleTo(graft.functions.ulid_millis(col("id")),
      base.toDouble, (base + 2001 * 60000L).toDouble, 8)
    val hDim = pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(256))
    val subset = Seq(1, 5)
    Seq(graft.log.CommitMode.Lock, graft.log.CommitMode.Manifest).foreach { mode =>
      val dir = Files.createTempDirectory("graftzsubset").toFile.getAbsolutePath
      val log = new graft.log.EventLog(spark, dir, numBuckets = 8, ulidSeed = Some(96L),
        commitMode = mode)
      log.bulkImport(rows, seqCol = "seq", timeCol = Some("tms"))
      val before = log.committedEvents.orderBy("id").collect().toSeq
      log.compact(buckets = Some(subset), layout = graft.log.CompactionLayout.ZOrder(
        Seq(tDim, hDim), bitsPerDim = 8, filesPerBucket = 2))
      assert(log.committedEvents.orderBy("id").collect().toSeq === before, s"$mode")
      val files = log.committedEvents
        .select(pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(8)).as("b"),
          input_file_name().as("f"))
        .filter(col("b").isin(subset: _*)).distinct()
        .collect().groupMap(_.getInt(0))(_.getString(1))
      assert(files.keySet === subset.toSet, s"$mode")
      assert(files.values.map(_.size).sum <= 4,
        s"$mode: 2 buckets x 2 files per bucket, got ${files.view.mapValues(_.size).toMap}")
    }
  }
}
