package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 lesson: the driver regenerated testdata with `events.ts` as
  * TIMESTAMP(MICROS) after six rounds of TIMESTAMP(NANOS), and a loader that
  * hardcoded the nanos workaround killed every events query for a full round.
  * This spec poisons a tmp events table with EACH dtype vintage and proves
  * the harness loader adapts: identical results, identical (normalized)
  * TimestampType out, end-to-end through the unix_millis-based log roundtrip.
  */
class HarnessDriftSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** Write a tiny events.parquet under a fresh dir with `ts` in the given
    * vintage. Values are identical across vintages: only the physical dtype
    * differs. `user_id = 7` rows exist so s1's filter is non-empty.
    */
  private def writeVintage(nanosAsLong: Boolean): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftdrift").toFile.getAbsolutePath
    val base = (1 to 40).map { i =>
      (i.toLong, 1700000000000000L + i * 1000000L, (i % 5 + 5).toLong,
        if (i % 3 == 0) "purchase" else "click", i * 1.5, s"""{"i":$i}""")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val withTs =
      if (nanosAsLong) base.withColumn("ts", (col("us") * 1000).cast("long"))
      else base.withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val nanosDir = writeVintage(nanosAsLong = true)
  private lazy val microsDir = writeVintage(nanosAsLong = false)

  /** A REAL TIMESTAMP(NANOS)-annotated parquet (pyarrow-written, committed
    * fixture) with the same 40 rows as [[writeVintage]] — Spark cannot write
    * this annotation itself, and reading it REQUIRES the nanosAsLong legacy
    * conf, so this is the only vintage that actually exercises that path.
    */
  private val nanosFixtureDir =
    new java.io.File("src/test/resources/nanos-vintage").getAbsolutePath

  test("the events loader normalizes both ts vintages to TimestampType") {
    Seq(nanosDir, microsDir).foreach { dir =>
      val out = SparkEntry.queries("s1_stream_scan")(spark, dir)
      assert(out.schema("ts").dataType === TimestampType,
        s"vintage at $dir must read back as TimestampType")
      assert(out.count() === 8L)
    }
  }

  test("both vintages produce byte-identical query results") {
    def rows(dir: String) =
      SparkEntry.queries("s1_stream_scan")(spark, dir)
        .orderBy("event_id").collect().toSeq
    assert(rows(nanosDir) === rows(microsDir))
  }

  test("a real TIMESTAMP(NANOS) file (rounds 1-6 vintage) loads via nanosAsLong") {
    // would throw 'Illegal Parquet type: INT64 (TIMESTAMP(NANOS))' if the
    // loader ever dropped the legacy conf — the synthetic bigint vintage
    // above cannot catch that regression
    val fixture = SparkEntry.queries("s1_stream_scan")(spark, nanosFixtureDir)
    assert(fixture.schema("ts").dataType === TimestampType)
    val rows = fixture.orderBy("event_id").collect().toSeq
    val synthetic = SparkEntry.queries("s1_stream_scan")(spark, microsDir)
      .orderBy("event_id").collect().toSeq
    assert(rows.nonEmpty && rows === synthetic,
      "the nanos fixture must decode to the same instants as the micros vintage")
  }

  test("benign width changes (int for bigint, float for double) pass the guard") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftdriftw").toFile.getAbsolutePath
    (1 to 5).map(i => (i, 1700000000000000L + i, 7, "click", 1.5f, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.parquet(s"$dir/events.parquet")
    assert(SparkEntry.queries("s1_stream_scan")(spark, dir).count() === 5L,
      "a narrower integral/fractional width is the same type class — no drift")
  }

  test("a type-class flip fails loudly, naming the table, column and dtype") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftdriftbad").toFile.getAbsolutePath
    (1 to 5).map(i => (i.toLong, 1700000000000000L + i, 7L, i.toLong, 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      SparkEntry.queries("s1_stream_scan")(spark, dir).count()
    }
    assert(e.getMessage.contains("events.event_type") &&
      e.getMessage.contains("bigint"),
      s"drift error must name table.column and the observed dtype: ${e.getMessage}")
  }

  test("a missing column fails loudly, naming it") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graftdriftmiss").toFile.getAbsolutePath
    (1 to 5).map(i => (i.toLong, 1700000000000000L + i, 7L, "click", 1.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      SparkEntry.queries("s1_stream_scan")(spark, dir).count()
    }
    assert(e.getMessage.contains("events.props") && e.getMessage.contains("MISSING"),
      e.getMessage)
  }

  test("an in-place part rewrite in a directory table re-reads the footer") {
    val s = spark
    import s.implicits._
    // the bytes of a one-part events table whose stream column is `userCol`
    def partBytes(userCol: String): Array[Byte] = {
      val tmp = Files.createTempDirectory("graftmemopart").toFile.getAbsolutePath
      (1 to 5).map(i => (i.toLong, 1700000000000000L + i, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "us", userCol, "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .coalesce(1).write.parquet(s"$tmp/t")
      val f = new java.io.File(s"$tmp/t").listFiles().find(_.getName.endsWith(".parquet")).get
      Files.readAllBytes(f.toPath)
    }
    val dir = Files.createTempDirectory("graftmemo").toFile.getAbsolutePath
    val table = new java.io.File(s"$dir/events.parquet")
    assert(table.mkdir())
    // a bare part file, no checksum sidecar: its bytes can change in place
    val part = new java.io.File(table, "part-00000.parquet").toPath
    Files.write(part, partBytes("user_id"))
    assert(SparkEntry.queries("s1_stream_scan")(spark, dir).count() === 5L)

    // same name, same inode: the directory's own status does not move
    val dirStamp = table.lastModified()
    Files.write(part, partBytes("uid"))
    assert(table.lastModified() === dirStamp)
    val e = intercept[IllegalStateException] {
      SparkEntry.queries("s1_stream_scan")(spark, dir).count()
    }
    assert(e.getMessage.contains("events.user_id") && e.getMessage.contains("MISSING"),
      e.getMessage)
  }

  test("timestamp arithmetic (unix_millis log import) works on both vintages") {
    // w7 funnels ts through unix_millis into a bulkImport + rebucket
    // roundtrip — the exact expression the round-7 NTZ drift broke
    def rows(dir: String) =
      SparkEntry.queries("w7_bulk_roundtrip")(spark, dir)
        .orderBy("aggregate_id", "aggregate_version").collect().toSeq
    val a = rows(nanosDir)
    assert(a.nonEmpty && a === rows(microsDir))
  }
}
