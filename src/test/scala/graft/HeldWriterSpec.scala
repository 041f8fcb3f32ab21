package graft

import graft.core.{EventRow, EventSchema, SnapshotRow}
import graft.log.{AppendRecord, CommitMode, EventLog}
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The held writer: rows already on the driver (a point append, a
  * snapshot) are written through Spark's parquet writer on the driver, one
  * id-sorted file per touched bucket, staged under a hidden name and
  * renamed into place. Its files must be the files a Spark write of the
  * same rows produces: same footer (schema with field repetition, the
  * Spark row-metadata JSON, codec) and same rows. The one-file-per-bucket
  * layout of a multi-bucket append, in both commit modes, is PointPathSpec's.
  */
class HeldWriterSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val Buckets = 4

  private def newLog(mode: CommitMode, keys: Set[String] = Set.empty): EventLog = {
    val dir = Files.createTempDirectory("graftheld").toFile.getAbsolutePath
    new EventLog(spark, dir, numBuckets = Buckets, discriminatorKeys = keys,
      ulidSeed = Some(41L), commitMode = mode)
  }

  /** Visible parquet files of one bucket directory of `table`. */
  private def files(table: String, bucket: Int): Seq[File] =
    Option(new File(s"$table/bucket=$bucket").listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)

  /** Schema (with field repetition), key-value metadata and column codecs. */
  private def footer(f: File) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getAbsolutePath), spark.sessionState.newHadoopConf()))
    try {
      val meta = reader.getFooter
      (meta.getFileMetaData.getSchema.toString,
        meta.getFileMetaData.getKeyValueMetaData.asScala.toMap,
        meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
    } finally reader.close()
  }

  /** `rows` written by Spark the way the log lays out a batch: declared
    * `disc_` columns, then the bucket partition, one id-sorted file per
    * bucket, zstd.
    */
  private def sparkWrite(rows: DataFrame, keys: Set[String], dir: String): Unit =
    keys.toSeq.sorted.foldLeft(rows)((d, k) =>
        d.withColumn(EventSchema.discColName(k), element_at(col("discriminator"), lit(k))))
      .withColumn("bucket", pmod(graft.functions.fnv1a32(col("aggregate_id")), lit(Buckets)))
      .repartition(col("bucket")).sortWithinPartitions("bucket", "id")
      .write.partitionBy("bucket").option("compression", EventLog.Compression).parquet(dir)

  Seq(Set.empty[String], Set("tenant")).foreach { keys =>
    val label = if (keys.isEmpty) "no declared key" else "a declared disc_ key"
    test(s"held and Spark-written files of the same rows share one footer and rows ($label)") {
      val s = spark
      import s.implicits._
      val log = newLog(CommitMode.Lock, keys)
      log.append((0 until 12).map(i => AppendRecord(s"fw-$i", "Account", 0,
        Map("tenant" -> s"t${i % 3}"), Seq(AccountType.created(i, "o"), AccountType.deposited(i)))))
      val events = s"${log.path}/events"
      val held = (0 until Buckets).flatMap(b => files(events, b).map(b -> _))
      assert(held.map(_._1).distinct.size >= 3, "fixture must span 3+ buckets")
      assert(held.map(_._1).distinct.size == held.size, "one file per touched bucket")

      val rows = spark.read.schema(EventSchema.events).parquet(held.map(_._2.getPath): _*)
        .as[EventRow].collect().toSeq
      assert(rows.size == 24)
      val dir = Files.createTempDirectory("graftheldspark").toFile.getAbsolutePath + "/events"
      sparkWrite(rows.toDS().toDF(), keys, dir)

      held.foreach { case (b, heldFile) =>
        val written = files(dir, b)
        assert(written.size == 1, s"bucket $b: the Spark write made ${written.size} files")
        val (hSchema, hMeta, hCodecs) = footer(heldFile)
        val (sSchema, sMeta, sCodecs) = footer(written.head)
        assert(hSchema == sSchema, s"bucket $b: parquet schema")
        assert(hMeta == sMeta, s"bucket $b: key-value metadata")
        assert(hMeta.contains("org.apache.spark.sql.parquet.row.metadata"))
        assert(hCodecs == sCodecs && hCodecs == Set("ZSTD"), s"bucket $b: codecs $hCodecs vs $sCodecs")
        if (keys.nonEmpty) assert(hSchema.contains("disc_tenant"))
        val hRows = spark.read.parquet(heldFile.getPath).collect().toSeq
        assert(hRows == spark.read.parquet(written.head.getPath).collect().toSeq,
          s"bucket $b: rows differ")
        val ids = hRows.map(_.getAs[String]("id"))
        assert(ids == ids.sorted, s"bucket $b: file is not id-sorted")
      }
    }
  }

  Seq(CommitMode.Lock, CommitMode.Manifest).foreach { mode =>
    test(s"$mode: saveSnapshot then latestSnapshot round-trips, with the Spark writer's footer") {
      val s = spark
      import s.implicits._
      val log = newLog(mode, Set("tenant"))
      assert(log.latestSnapshot("snap-1").isEmpty, "no snapshot table yet")
      val at = new Timestamp(1700000000000L)
      val first = SnapshotRow("01H0000000000000000000000A", "snap-1", 3, "Account", "{\"b\":3}",
        at, Map("tenant" -> "t1"))
      val second = first.copy(id = "01H0000000000000000000000B", aggregate_version = 7, body = "{\"b\":7}")
      log.saveSnapshot(first)
      assert(log.latestSnapshot("snap-1").contains(first))
      log.saveSnapshot(second)
      assert(log.latestSnapshot("snap-1").contains(second))
      assert(log.latestSnapshot("snap-2").isEmpty)
      assert(log.snapshots.count() == 2L)

      // the distributed snapshot writer is the Spark write of the same row
      val twin = newLog(mode, Set("tenant"))
      twin.saveSnapshots(Seq(second).toDS().toDF())
      val b = log.bucketOf("snap-1")
      val held = files(s"${log.path}/snapshots", b).filter(f =>
        spark.read.parquet(f.getPath).filter(col("aggregate_version") === 7).count() == 1L)
      val written = files(s"${twin.path}/snapshots", b)
      assert(held.size == 1 && written.size == 1)
      assert(footer(held.head) == footer(written.head))
      assert(spark.read.parquet(held.head.getPath).collect().toSeq ==
        spark.read.parquet(written.head.getPath).collect().toSeq)
    }
  }
}
