package graft

import graft.ops.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real image decode (javax.imageio PNG/BMP) + perceptual hashing + banded
  * image near-dup: codec round-trip losslessness, format invariance of the
  * hashes, planted-duplicate behavior, and total banding recall at
  * hamming ≤ 3 against a brute-force oracle.
  */
class MultimodalSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  // a long text (> 1152 chars = one full 36×32 raster) so a single-char
  // edit perturbs exactly ONE pixel — the controlled near-dup fixture
  private def longText(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    (0 until 260).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  }

  private def packed(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    Multimodal.pack(rows.toDF("doc_id", "text"), "doc_id", "text", "image/gray")
  }

  test("synthImages emits REAL codec bytes; decode round-trips losslessly in both formats") {
    val rows = (0L until 6L).map(i => (i, longText(i.toInt)))
    val png = Multimodal.synthImages(packed(rows), format = "png")
      .select("media_id", "img").collect()
    val bmp = Multimodal.synthImages(packed(rows), format = "bmp")
      .select("media_id", "img").collect()
    // real container magics — these are genuine encoded files, not stubs
    png.foreach { r =>
      val b = r.getAs[Array[Byte]]("img")
      assert((b(1) & 0xff) == 'P' && (b(2) & 0xff) == 'N' && (b(3) & 0xff) == 'G')
    }
    bmp.foreach { r =>
      val b = r.getAs[Array[Byte]]("img")
      assert(b(0) == 'B' && b(1) == 'M')
    }
    // decode returns the exact synthesized raster whichever codec carried it
    rows.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val expect = Array.tabulate(36 * 32)(i => bytes(i % bytes.length) & 0xff)
      Seq(png, bmp).foreach { imgs =>
        val img = imgs.find(_.getLong(0) == id).get.getAs[Array[Byte]]("img")
        val (w, h, lum) = Multimodal.decodeLuma(img)
        assert(w == 36 && h == 32)
        assert(lum.toSeq == expect.toSeq, s"decode must be lossless (doc $id)")
      }
    }
  }

  test("perceptual hashes are format-invariant (PNG and BMP decode to the same pixels)") {
    val rows = (0L until 10L).map(i => (i, longText(100 + i.toInt)))
    def hashes(fmt: String) = Multimodal.perceptualHash(
        Multimodal.synthImages(packed(rows), format = fmt))
      .select("media_id", "dhash", "ahash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(hashes("png") === hashes("bmp"))
  }

  test("planted duplicates: identical image hashes equal; a one-pixel edit stays within hamming 2") {
    val s = spark
    val base = longText(7)
    // one-char substitution by ±1 codepoint at a position beyond any word
    // boundary effect: exactly one raster pixel changes by 1, so at most
    // one 4×4 box mean moves by at most 1 → at most 2 dHash gradient bits
    val oneOff = base.updated(600, (base(600) + 1).toChar)
    val rows = Seq((1L, base), (2L, base), (3L, oneOff))
    val h = Multimodal.perceptualHash(Multimodal.synthImages(packed(rows)))
      .select("media_id", "dh0", "dh1", "dh2", "dh3", "dhash").collect()
      .map(r => r.getLong(0) -> (0 to 3).map(k => r.getInt(1 + k))).toMap
    def hamming(a: Seq[Int], b: Seq[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(hamming(h(1L), h(2L)) == 0, "identical images must hash identically")
    assert(hamming(h(1L), h(3L)) <= 2,
      s"a one-pixel ±1 edit must stay within hamming 2, got ${hamming(h(1L), h(3L))}")
    val pairs = Multimodal.phashNearDupPairs(
        Multimodal.perceptualHash(Multimodal.synthImages(packed(rows))),
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"banding must surface all three planted pairs, got $pairs")
  }

  test("synthAudio emits REAL RIFF/WAVE; decode round-trips losslessly; energies hand-verified") {
    val s = spark
    val text = "abcd" // bytes 97,98,99,100 cycled over 2048 samples
    val out = Multimodal.audioFeatures(Multimodal.synthAudio(
        packed(Seq((1L, text))), nSamples = 2048, sampleRate = 8000))
      .select("media_id", "audio", "n_samples", "sample_rate", "energies")
      .head()
    val wav = out.getAs[Array[Byte]]("audio")
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE",
      "a genuine RIFF/WAVE container, not a stub")
    assert(out.getAs[Int]("n_samples") == 2048 &&
      out.getAs[Int]("sample_rate") == 8000, "header fields parsed by decode")
    // hand-computed: each 256-sample frame cycles 'abcd' 64 times;
    // |97-128|+|98-128|+|99-128|+|100-128| = 31+30+29+28 = 118 per cycle
    val energies = out.getSeq[Long](out.fieldIndex("energies"))
    assert(energies.size == 8 && energies.forall(_ == 64L * 118),
      s"expected 8 frames of ${64 * 118}, got $energies")
  }

  test("maxBucketSize drops ONLY the flat hot bucket; planted pairs elsewhere survive") {
    val s = spark
    import s.implicits._
    // 40 identical flat images (one bucket, C(40,2) = 780 pairs) plus one
    // planted near pair in ordinary buckets
    val base = longText(42)
    val rows = (0L until 40L).map(i => (i, "x" * 1200)) ++
      Seq((100L, base), (101L, base.updated(700, (base(700) + 1).toChar)))
    val hashed = Multimodal.perceptualHash(Multimodal.synthImages(packed(rows)))
      .localCheckpoint()
    val uncapped = Multimodal.phashNearDupPairs(hashed, maxDist = 3)
    assert(uncapped.filter($"id_a" < 40 && $"id_b" < 40).count() === 780L,
      "flat class pairs completely without a cap")
    val capped = Multimodal.phashNearDupPairs(hashed, maxDist = 3,
      maxBucketSize = Some(10))
    assert(capped.filter($"id_a" < 40 && $"id_b" < 40).count() === 0L,
      "the cap must drop the hot bucket's pairs")
    assert(capped.filter($"id_a" === 100L && $"id_b" === 101L).count() === 1L,
      "pairs in ordinary buckets must survive the cap")
    // the text twin behaves identically (shared capWordBuckets)
    val docs = ((0L until 40L).map(i => (i, "lorem ipsum dolor sit amet " * 8)) ++
      Seq((100L, longText(50)), (101L, longText(50) + " tail")))
      .toDF("doc_id", "text")
    val simCapped = graft.ops.Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = Some(10))
    assert(simCapped.filter($"doc_a" < 40 && $"doc_b" < 40).count() === 0L)
    assert(simCapped.filter($"doc_a" === 100L && $"doc_b" === 101L).count() === 1L,
      "the near pair outside the boilerplate class survives the simhash cap")
  }

  test("buildAvi/parseAvi: genuine RIFF/AVI, lossless frame round-trip incl. row padding") {
    // w=27 → 81-byte rows padded to 84: exercises the DIB stride path the
    // 36-wide default never touches
    val rnd = new scala.util.Random(11)
    val (w, h) = (27, 16)
    val frames = Array.fill(3)(Array.fill(w * h)(rnd.nextInt(256)))
    val avi = Multimodal.buildAvi(frames, w, h, fps = 10)
    assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF" &&
      new String(avi.slice(8, 12), "US-ASCII") == "AVI ",
      "a genuine RIFF/AVI container, not a stub")
    val (pw, ph, rasters) = Multimodal.parseAvi(avi)
    assert(pw == w && ph == h && rasters.length == 3)
    frames.zip(rasters).zipWithIndex.foreach { case ((in, out), f) =>
      assert(out.toSeq == in.toSeq, s"frame $f must round-trip losslessly")
    }
    // garbage refuses loudly
    val eg = intercept[IllegalArgumentException](
      Multimodal.parseAvi("not a riff at all".getBytes("US-ASCII")))
    assert(eg.getMessage.contains("RIFF"))
    // a container whose idx1 disagrees with movi refuses (truncation guard):
    // patch idx1's declared size down to one entry
    val patched = avi.clone()
    val ip = patched.indexOfSlice("idx1".getBytes("US-ASCII"))
    assert(ip > 0)
    patched(ip + 4) = 16 // le32 size: 3 entries (48) → 1 entry (16)
    val et = intercept[IllegalArgumentException](Multimodal.parseAvi(patched))
    assert(et.getMessage.contains("AVI"), et.getMessage)
  }

  test("video frame 0 hashes IDENTICALLY to the image of the same content (shared pixel rule)") {
    val s = spark
    val rows = (0L until 5L).map(i => (i, longText(300 + i.toInt)))
    val imgHashes = Multimodal.perceptualHash(Multimodal.synthImages(packed(rows)))
      .select("media_id", "dhash", "ahash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val frames = Multimodal.perceptualHash(
      Multimodal.videoFrames(Multimodal.synthVideo(packed(rows), nFrames = 3)))
    val f0 = frames.filter(col("frame_no") === 0)
      .select("media_id", "dhash", "ahash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(f0 === imgHashes,
      "frame 0's cyclic rule coincides with synthImages — the cross-codec pin")
    // one row per (video, frame), dims parsed from the container
    assert(frames.count() === 15L)
    assert(frames.select("vid_w", "vid_h").distinct().collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1))) == Seq((36, 32)))
  }

  test("video near-dup by frame overlap: identical video matches all frames; frames align") {
    val s = spark
    import s.implicits._
    val base = longText(77)
    val rows = Seq((1L, base), (2L, base), // identical video → 4/4 frames match
      (3L, longText(78))) // unrelated
    val hashed = Multimodal.perceptualHash(
      Multimodal.videoFrames(Multimodal.synthVideo(packed(rows))))
    val fid = hashed.select(
      (col("media_id") * 10 + col("frame_no")).cast("long").as("media_id"),
      col("dh0"), col("dh1"), col("dh2"), col("dh3"))
    val matched = Multimodal.phashNearDupPairs(fid, maxDist = 3)
      .filter(pmod($"id_a", lit(10)) === pmod($"id_b", lit(10)))
      .groupBy(floor($"id_a" / 10).cast("long").as("vid_a"),
        floor($"id_b" / 10).cast("long").as("vid_b"))
      .count().collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(matched.get((1L, 2L)).contains(4L),
      s"identical videos must match on every frame, got $matched")
    assert(!matched.contains((1L, 3L)) && !matched.contains((2L, 3L)),
      s"unrelated videos must not match, got $matched")
  }

  test("sniffMeta: real header parse for all four container formats; corrupt and unknown route as data") {
    val s = spark
    import s.implicits._
    val rows = (0L until 4L).map(i => (i, longText(i.toInt)))
    val img = Multimodal.synthImages(packed(rows), w = 45, h = 40) // mixed: png/bmp by parity
    val wav = Multimodal.synthAudio(packed(rows), nSamples = 500, sampleRate = 11025)
    val avi = Multimodal.synthVideo(packed(rows), w = 20, h = 14, nFrames = 3)

    val si = Multimodal.sniffMeta(img, "img").select("media_id", "fmt", "width", "height", "n_frames").collect()
    si.foreach { r =>
      assert(r.getString(1) == (if (r.getLong(0) % 2 == 0) "png" else "bmp"))
      assert(r.getInt(2) == 45 && r.getInt(3) == 40 && r.getInt(4) == 1)
    }
    val sw = Multimodal.sniffMeta(wav, "audio")
      .select("fmt", "n_channels", "sample_rate", "n_samples", "width").collect()
    sw.foreach { r =>
      assert(r.getString(0) == "wav" && r.getInt(1) == 1 &&
        r.getInt(2) == 11025 && r.getInt(3) == 500)
      assert(r.isNullAt(4), "audio has no width")
    }
    val sv = Multimodal.sniffMeta(avi, "video")
      .select("fmt", "width", "height", "n_frames", "sample_rate").collect()
    sv.foreach { r =>
      assert(r.getString(0) == "avi" && r.getInt(1) == 20 && r.getInt(2) == 14 &&
        r.getInt(3) == 3)
      assert(r.isNullAt(4), "video sniff carries no sample rate")
    }

    // corrupt: recognized magic, truncated header — routes, never throws
    val firstImg = img.select("img").head.getAs[Array[Byte]](0)
    assert(Multimodal.sniffOne(firstImg.take(14)).head.toString.startsWith("corrupt:"))
    // a declared chunk size past the buffer end is corrupt, not a crash
    val vid = avi.select("video").head.getAs[Array[Byte]](0)
    assert(Multimodal.sniffOne(vid.take(40)).head == "corrupt:avi")
    // unknown magic and null content route as data too
    assert(Multimodal.sniffOne("plain text, not media at all".getBytes).head == "unknown")
    assert(Multimodal.sniffOne(null).head == "unknown")
    assert(Multimodal.sniffOne(Array[Byte](1, 2, 3)).head == "unknown")
  }

  test("audioFingerprint: exact contour hash; the persisted index is fingerprint-agnostic") {
    val s = spark
    import s.implicits._
    val rows = (0L until 6L).map(i => (i, longText(i.toInt)))
    val fp = Multimodal.audioFingerprint(Multimodal.synthAudio(packed(rows)))
      .localCheckpoint()
    // hand-verify fingerprint 0 against a direct source-byte computation
    val r0 = fp.filter(col("media_id") === 0L).head
    val bytes = longText(0).getBytes("UTF-8")
    val e = Array.tabulate(64)(f => (0 until 32)
      .map(j => math.abs((bytes((f * 32 + j) % bytes.length) & 0xff) - 128)).sum)
    val bits = Array.tabulate(64)(i => if (e(i) > e((i + 1) % 64)) 1 else 0)
    val words = Array.tabulate(4)(k =>
      (0 until 16).map(j => bits(16 * k + j) << (15 - j)).sum)
    assert((0 to 3).forall(k => r0.getAs[Int](s"af$k") == words(k)),
      "the decoded contour hash must equal the source-byte derivation")

    // the hashed entry points: an AUDIO corpus in the SAME index family
    val idx = java.nio.file.Files.createTempDirectory("afidx").toFile
      .getAbsolutePath
    val afCols = Seq("af0", "af1", "af2", "af3")
    graft.ops.PhashIndex.buildHashed(fp, "media_id", afCols, idx, sigBuckets = 8)
    val probe = Multimodal.audioFingerprint(Multimodal.synthAudio(
      packed(Seq((100L, longText(2)), (101L, longText(901)))))).localCheckpoint()
    val v = graft.ops.PhashIndex.screenHashed(s, idx, probe, "media_id",
        afCols, maxDist = 0)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.get(2))).toMap
    assert(v(100L) == ((false, 2L)), s"identical audio must match its source: $v")
    assert(v(101L)._1, s"novel audio must screen as new: $v")
    // streaming-protocol parity rides the same generic bodies
    graft.ops.PhashIndex.appendBatchHashed(s, idx, probe.filter(col("media_id") === 101L),
      "media_id", afCols, batchId = 0L)
    val v2 = graft.ops.PhashIndex.screenHashed(s, idx,
        probe.filter(col("media_id") === 101L)
          .select((col("media_id") + 100).as("media_id"), col("af0"), col("af1"),
            col("af2"), col("af3")),
        "media_id", afCols, maxDist = 0)
      .head
    assert(!v2.getBoolean(1) && v2.getLong(2) == 101L,
      "the ingested audio fingerprint must screen later probes")

    // too-short audio refuses loudly instead of hashing a padded contour
    val short = Multimodal.synthAudio(packed(rows.take(1)), nSamples = 100)
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint(short).collect()
    }
    assert(err.getMessage.contains("64-frame contour") ||
      Option(err.getCause).exists(_.getMessage.contains("64-frame contour")))

    // companded 8-bit mono (µ-law, fmt tag 7) shares the width/channel
    // shape but its bytes are log-compressed — must refuse, not mis-hash
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val uData = Array.tabulate[Byte](2048)(i => i.toByte)
    val ulawWav = "RIFF".getBytes("US-ASCII") ++ le32(36 + uData.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(7) ++ le16(1) ++
      le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
      "data".getBytes("US-ASCII") ++ le32(uData.length) ++ uData
    val eU = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint(
        Seq((1L, ulawWav)).toDF("media_id", "audio")).collect()
    }
    assert(eU.getMessage.contains("LINEAR PCM") ||
      Option(eU.getCause).exists(_.getMessage.contains("LINEAR PCM")),
      s"companded audio must refuse: ${eU.getMessage}")
  }

  test("resizeImages: real decode->scale->re-encode; at the grid factor it IS the hash's resampling") {
    val s = spark
    import s.implicits._
    val rows = (0L until 6L).map(i => (i, longText(i.toInt)))
    val imgs = Multimodal.synthImages(packed(rows)).localCheckpoint()
    val resized = Multimodal.resizeImages(imgs, factor = 4)
    // geometry: 36x32 -> 9x8, and the output is REAL BMP bytes
    val r0 = resized.select("rs_w", "rs_h", "resized_img").head
    assert(r0.getInt(0) == 9 && r0.getInt(1) == 8)
    val rb = r0.getAs[Array[Byte]](2)
    assert(rb(0) == 'B' && rb(1) == 'M', "re-encode must emit a genuine BMP")
    val (w2, h2, _) = Multimodal.decodeLuma(rb)
    assert(w2 == 9 && h2 == 8, "the re-encoded container must carry the new dims")

    // the fixed point: hashing the resized image reproduces the original's
    // hash EXACTLY (same floor box-mean arithmetic as the canonical grid)
    def hashes(df: org.apache.spark.sql.DataFrame, c: String) =
      Multimodal.perceptualHash(df, c).select("media_id", "dhash", "ahash")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(hashes(resized, "resized_img") === hashes(imgs, "img"),
      "resize at the grid factor must be the hash's own resampling step")

    // non-dividing dims refuse loudly (no silent crop)
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.resizeImages(imgs, factor = 5).collect()
    }
    assert(err.getMessage.contains("does not divide") ||
      Option(err.getCause).exists(_.getMessage.contains("does not divide")))
  }

  test("banded near-dup pairs EQUAL brute-force hamming<=3 pairs (total pigeonhole recall)") {
    val s = spark
    // 40 bases + systematic near copies: single-char ±1 edits at varying
    // positions (some flip 0 bits, some 1–2) — plus the unrelated bases,
    // whose pairwise hammings are mostly far
    val rows = (0L until 40L).flatMap { i =>
      val b = longText(500 + i.toInt)
      Seq((i * 10, b), (i * 10 + 1, b.updated(50 + i.toInt, (b(50 + i.toInt) + 1).toChar)))
    }
    val hashed = Multimodal.perceptualHash(Multimodal.synthImages(packed(rows)))
      .localCheckpoint()
    val banded = Multimodal.phashNearDupPairs(hashed, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val h = hashed.select("media_id", "dh0", "dh1", "dh2", "dh3").collect()
      .map(r => r.getLong(0) -> (0 to 3).map(k => r.getInt(1 + k)))
    val brute = (for {
      (ia, ha) <- h; (ib, hb) <- h if ia < ib
      d = ha.zip(hb).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one near pair")
    assert(banded === brute,
      "4x16-bit pigeonhole banding must have TOTAL recall at hamming <= 3")
  }

  // ── MJPG: the compressed-video leg reachable with zero non-JDK deps ────
  // JPEG is lossy, so the mm9 source-bytes oracle does not transfer: the
  // gate is decode EQUALITY against ImageIO on the same record bytes
  // (both paths run the identical decoder — exact match, not tolerance),
  // plus near-dup stability on planted MJPG duplicates.

  test("MJPG: records are real JPEGs; parseAvi equals direct ImageIO decode per frame") {
    // smooth gradient rasters: the representative MJPG payload (JPEG is
    // near-exact on low-frequency content; noise fixtures test nothing
    // about the container)
    val (w, h) = (36, 32)
    val frames = Array.tabulate(3)(f =>
      Array.tabulate(w * h)(i => ((i % w) * 255 / (w - 1) + 5 * f).min(255)))
    val avi = Multimodal.buildAvi(frames, w, h, fps = 10, codec = "MJPG")
    val (rw, rh, comp, records) = Multimodal.parseAviRecords(avi)
    assert(rw == w && rh == h && comp == Multimodal.MjpgFourcc)
    assert(records.length == 3)
    records.foreach(rb => assert((rb(0) & 0xff) == 0xFF && (rb(1) & 0xff) == 0xD8,
      "each 00dc record must be a genuine JPEG (SOI marker)"))
    val (pw, ph, rasters) = Multimodal.parseAvi(avi)
    assert(pw == w && ph == h)
    rasters.zip(records).zipWithIndex.foreach { case ((got, rb), f) =>
      val (jw, jh, want) = Multimodal.decodeLuma(rb)
      assert(jw == w && jh == h)
      assert(got.toSeq == want.toSeq,
        s"frame $f: parseAvi must equal ImageIO.read of the same record bytes")
    }
  }

  test("MJPG planted dup pairs still caught at maxDist <= 3; alien fourccs refuse loudly") {
    val s = spark
    import s.implicits._
    val (w, h) = (36, 32)
    def vid(shift: Int, reversed: Boolean) = Multimodal.buildAvi(
      Array.tabulate(4)(f => Array.tabulate(w * h) { i =>
        val x = i % w
        val g = if (reversed) (w - 1 - x) * 200 / (w - 1) else x * 200 / (w - 1)
        g + 7 * f + shift // ≤ 227: never clips, so the shift is exactly uniform
      }), w, h, fps = 10, codec = "MJPG")
    // 1≈2 (uniform brightness shift: dHash gradient signs survive both the
    // shift and the JPEG), 3 unrelated (reversed slope direction)
    val rows = Seq((1L, vid(0, false)), (2L, vid(6, false)), (3L, vid(0, true)))
    val hashed = Multimodal.perceptualHash(
      Multimodal.videoFrames(rows.toDF("media_id", "video")))
    val fid = hashed.select(
      (col("media_id") * 10 + col("frame_no")).cast("long").as("media_id"),
      col("dh0"), col("dh1"), col("dh2"), col("dh3"))
    val matched = Multimodal.phashNearDupPairs(fid, maxDist = 3)
      .filter(pmod($"id_a", lit(10)) === pmod($"id_b", lit(10)))
      .groupBy(floor($"id_a" / 10).cast("long").as("vid_a"),
        floor($"id_b" / 10).cast("long").as("vid_b"))
      .count().collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(matched.get((1L, 2L)).contains(4L),
      s"brightness-shifted MJPG dup must match on every frame, got $matched")
    assert(!matched.contains((1L, 3L)) && !matched.contains((2L, 3L)),
      s"unrelated videos must not match, got $matched")
    // the refusal is narrowed to genuinely-unsupported fourccs: patch the
    // DIB stream's biCompression to 'XVID' and parse must name the codec
    val dib = Multimodal.buildAvi(Array(Array.fill(w * h)(128)), w, h, 10)
    val si = dib.indexOfSlice("strf".getBytes("US-ASCII"))
    assert(si > 0)
    "XVID".getBytes("US-ASCII").zipWithIndex.foreach { case (b, i) =>
      dib(si + 24 + i) = b } // biCompression field, LE
    val err = intercept[IllegalArgumentException](Multimodal.parseAvi(dib))
    assert(err.getMessage.contains("biCompression") &&
      err.getMessage.contains("JNI"), err.getMessage)
  }

  test("mm17 fixture: the planted dup class needs edges from >= 3 modality machines") {
    val s = spark
    import s.implicits._
    // texts SHORTER than one 1152-px raster: appending tokens then shifts
    // the cyclic raster (longer texts leave the first 1152 bytes — the
    // whole image — untouched, and the image machine would link the
    // appended copy on its own)
    def shortText(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
      (0 until 150).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    }
    val base = (0L until 6L).map(i => (i, shortText(900 + i.toInt)))
      .toDF("doc_id", "text")
    val slice = base
      .unionByName(base.select(($"doc_id" + 10000).as("doc_id"), $"text"))
      .unionByName(base.select(($"doc_id" + 20000).as("doc_id"),
        translate($"text", "e", "f").as("text")))
      .unionByName(base.select(($"doc_id" + 30000).as("doc_id"),
        concat($"text", lit(" appended alpha beta gamma tokens")).as("text")))
      .localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = graft.ops.Dedup.shingleSets(slice, "doc_id", "text").localCheckpoint()
    val text = pairSet(graft.ops.Dedup.jaccardVerifyFromSets(sets,
      graft.ops.Dedup.lshCandidatePairsFromSets(sets), 0.2))
    val packed = Multimodal.pack(slice, "doc_id", "text", "raw").localCheckpoint()
    val img = pairSet(Multimodal.phashNearDupPairs(
        Multimodal.perceptualHash(Multimodal.synthImages(packed)), maxDist = 3)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
    val aud = pairSet(Multimodal.phashNearDupPairs(
        Multimodal.audioFingerprint(Multimodal.synthAudio(packed))
          .select($"media_id", $"af0".as("dh0"), $"af1".as("dh1"),
            $"af2".as("dh2"), $"af3".as("dh3")), maxDist = 3)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
    def canon(p: Set[(Long, Long)]) = p.map { case (a, b) => (a min b, a max b) }
    val (t, im, au) = (canon(text), canon(img), canon(aud))
    // the +30000 appended-token copy is a TEXT near-dup whose raster
    // shifted (text-only edge); the +20000 e→f translate breaks the token
    // shingles but barely moves the byte-level fingerprints — find a doc
    // whose class demonstrably needs text AND image AND audio edges
    val i = (0L until 6L).find { i =>
      t((i, i + 30000)) && !t((i, i + 20000)) &&
        im((i, i + 20000)) && !im((i, i + 30000)) &&
        au((i, i + 20000)) && !au((i, i + 30000))
    }
    assert(i.isDefined,
      "fixture must plant a class whose assembly needs >= 3 modality machines")
    // and the joint component graph actually assembles it (the fixture's
    // tiny vocabulary also links base docs to each other — irrelevant
    // here; the claim is that the four copies share ONE component)
    val joint = graft.ops.Dedup.connectedComponents(
      slice.select($"doc_id".as("node")),
      (t ++ im ++ au).toSeq.toDF("doc_a", "doc_b"))
    val comp = joint.filter($"node".isin(i.get, i.get + 10000, i.get + 20000,
        i.get + 30000))
      .select("label").distinct().collect()
    assert(comp.length == 1,
      "all four planted copies must fold into ONE component")
  }

  test("sniff codec: ulaw WAV routes at sniff time; the decode refusal is reachable, not an ambush") {
    val s = spark
    import s.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def wavBytes(fmtTag: Int, n: Int): Array[Byte] = {
      val data = Array.tabulate(n)(i => (i * 7 % 256).toByte)
      val body = "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(fmtTag) ++ le16(1) ++ le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
        "data".getBytes("US-ASCII") ++ le32(n) ++ data ++
        (if (n % 2 == 1) Array[Byte](0) else Array.empty[Byte])
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    // hand-built fmt-tag-7 (µ-law) WAV: sniffs as wav + codec=ulaw — the
    // header is PCM-identical; ONLY the tag distinguishes them
    assert(Multimodal.sniffOne(wavBytes(7, 64)) ===
      Seq[Any]("wav", null, null, null, 1, 8000, 64, "ulaw"))
    assert(Multimodal.sniffOne(wavBytes(6, 64)).last === "alaw")
    assert(Multimodal.sniffOne(wavBytes(1, 64)).last === "pcm")
    // an interleaved AVI may list its AUDIO strl before the video one
    // (legal RIFF ordering): the codec must come from the VIDEO stream's
    // strf — reading the first strf would land on WAVEFORMATEX bytes and
    // quarantine a perfectly decodable DIB video
    def chunk(id: String, data: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def list(kind: String, inner: Array[Byte]) =
      "LIST".getBytes("US-ASCII") ++ le32(4 + inner.length) ++
        kind.getBytes("US-ASCII") ++ inner
    val avihData = new Array[Byte](40)
    System.arraycopy(le32(7), 0, avihData, 16, 4) // dwTotalFrames
    System.arraycopy(le32(36), 0, avihData, 32, 4) // dwWidth
    System.arraycopy(le32(32), 0, avihData, 36, 4) // dwHeight
    val audioStrl = list("strl",
      chunk("strh", "auds".getBytes("US-ASCII") ++ new Array[Byte](52)) ++
        chunk("strf", le16(0x55) ++ le16(2) ++ le32(44100) ++ le32(176400) ++
          le16(0x4a4d) ++ le16(0x5047) ++ le16(4) ++ le32(0))) // 22-byte WAVEFORMATEX
    val videoStrl = list("strl",
      chunk("strh", "vids".getBytes("US-ASCII") ++ new Array[Byte](52)) ++
        chunk("strf", le32(40) ++ le32(36) ++ le32(32) ++ le16(1) ++ le16(8) ++
          le32(0) ++ new Array[Byte](16))) // biCompression = 0 (DIB)
    val hdrl = list("hdrl", chunk("avih", avihData) ++ audioStrl ++ videoStrl)
    val audioFirstAvi = "RIFF".getBytes("US-ASCII") ++ le32(4 + hdrl.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl
    assert(Multimodal.sniffOne(audioFirstAvi) ===
      Seq[Any]("avi", 36, 32, 7, null, null, null, "dib"),
      "audio-first AVI must report the VIDEO stream's codec")

    // AVI codec surfaces the same way
    val rows = (0L until 2L).map(i => (i, longText(700 + i.toInt)))
    assert(Multimodal.sniffMeta(Multimodal.synthVideo(packed(rows)), "video")
      .select("codec").distinct().head.getString(0) === "dib")
    assert(Multimodal.sniffMeta(
        Multimodal.synthVideo(packed(rows), codec = "MJPG"), "video")
      .select("codec").distinct().head.getString(0) === "mjpg")
    // the refusal is REACHABLE from the verdict: mixed intake, route on
    // codec, decode only the linear-PCM rows — no executor exception
    val pcm = Multimodal.synthAudio(packed(rows), nSamples = 64)
      .select(col("media_id"), col("audio"))
    val mixed = pcm.unionByName(
      Seq((99L, wavBytes(7, 64))).toDF("media_id", "audio"))
    intercept[Throwable] { // undirected decode of the mix is the old ambush
      Multimodal.audioFeatures(mixed).collect()
    }
    val routed = Multimodal.sniffMeta(mixed, "audio")
      .filter(col("codec") === "pcm")
      .select("media_id", "audio")
    assert(Multimodal.audioFeatures(routed).count() === 2,
      "sniff-routed decode must process exactly the linear-PCM rows")
  }

  test("JPEG + GIF legs: real ImageIO bytes, sniffed geometry, GIF lossless round-trip") {
    val rows = (0L until 4L).map(i => (i, longText(900 + i.toInt)))
    val png = Multimodal.synthImages(packed(rows), format = "png")
      .select("media_id", "img").collect().map(r =>
        r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val gif = Multimodal.synthImages(packed(rows), format = "gif")
      .select("media_id", "img").collect().map(r =>
        r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val jpg = Multimodal.synthImages(packed(rows), format = "jpg")
      .select("media_id", "img").collect().map(r =>
        r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { case (id, _) =>
      // genuine container magics
      assert(new String(gif(id), 0, 6, "US-ASCII").matches("GIF8[79]a"))
      assert((jpg(id)(0) & 0xff) == 0xff && (jpg(id)(1) & 0xff) == 0xd8)
      // sniff pulls the true geometry out of the real bytes
      assert(Multimodal.sniffOne(gif(id)) ===
        Seq[Any]("gif", 36, 32, 1, null, null, null, "lzw"))
      assert(Multimodal.sniffOne(jpg(id)) ===
        Seq[Any]("jpeg", 36, 32, 1, null, null, null, "jpeg-baseline"))
      // GIF is LOSSLESS for the gray raster (identity palette — no
      // colorspace round-trip): luma equals the PNG leg's bit-for-bit
      val (gw, gh, glum) = Multimodal.decodeLuma(gif(id))
      val (_, _, plum) = Multimodal.decodeLuma(png(id))
      assert(gw == 36 && gh == 32 && glum.sameElements(plum),
        "GIF decode must equal the lossless PNG leg exactly")
      // JPEG is lossy by contract: geometry exact, decode real
      val (jw, jh, jlum) = Multimodal.decodeLuma(jpg(id))
      assert(jw == 36 && jh == 32 && jlum.length == 36 * 32)
    }
  }

  test("GIF block walk: hand-built 2-frame GIF counts frames; truncations quarantine") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // GIF89a, 3x2 logical screen, NO global color table, one GCE
    // extension, TWO image descriptors (fake 1-byte LZW payloads — the
    // sniffer walks sub-block LENGTHS, never decodes), trailer
    def frame() = Array[Byte](0x2c) ++ le16(0) ++ le16(0) ++ le16(3) ++
      le16(2) ++ Array[Byte](0x00, 2, 1, 0x00, 0)
    val gce = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
    val two = "GIF89a".getBytes("US-ASCII") ++ le16(3) ++ le16(2) ++
      Array[Byte](0, 0, 0) ++ gce ++ frame() ++ frame() ++ Array[Byte](0x3b)
    assert(Multimodal.sniffOne(two) ===
      Seq[Any]("gif", 3, 2, 2, null, null, null, "lzw"),
      "an animated GIF's record count is an intake signal")
    // missing trailer / truncated sub-blocks -> corrupt, as DATA
    assert(Multimodal.sniffOne(two.dropRight(1)).head === "corrupt:gif")
    assert(Multimodal.sniffOne(two.take(16)).head === "corrupt:gif")
    // a JPEG cut mid-segment quarantines the same way
    val jpgHead = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xe0.toByte, 0, 16) ++ new Array[Byte](8)
    assert(Multimodal.sniffOne(jpgHead).head === "corrupt:jpeg")
  }

  test("routeIntake: every sniff verdict class lands on its decode leg") {
    val s = spark
    import s.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16v(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def wavBytes(fmtTag: Int, n: Int): Array[Byte] = {
      val data = Array.tabulate(n)(i => (i * 7 % 256).toByte)
      val body = "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16v(fmtTag) ++ le16v(1) ++ le32(8000) ++ le32(8000) ++ le16v(1) ++ le16v(8) ++
        "data".getBytes("US-ASCII") ++ le32(n) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val rows = Seq((0L, longText(31)))
    def one(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).head.getAs[Array[Byte]](0)
    val blobs = Seq(
      1L -> one(Multimodal.synthImages(packed(rows), format = "png"), "img"),
      2L -> one(Multimodal.synthImages(packed(rows), format = "gif"), "img"),
      3L -> one(Multimodal.synthImages(packed(rows), format = "jpg"), "img"),
      4L -> one(Multimodal.synthAudio(packed(rows), nSamples = 64), "audio"),
      5L -> wavBytes(7, 64), // ulaw
      6L -> one(Multimodal.synthVideo(packed(rows)), "video"),
      7L -> one(Multimodal.synthVideo(packed(rows), codec = "MJPG"), "video"),
      8L -> one(Multimodal.synthImages(packed(rows), format = "png"), "img").take(14),
      9L -> "just text bytes, no container".getBytes("UTF-8"))
    val routed = Multimodal.routeIntake(
        blobs.toDF("media_id", "content"), "content")
      .select("media_id", "route").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(routed === Map(
      1L -> "image", 2L -> "image", 3L -> "image", 4L -> "audio",
      5L -> "quarantine:wav-ulaw", 6L -> "video", 7L -> "video",
      8L -> "corrupt", 9L -> "unknown"))
    // policy edges without container fixtures: unsupported fourccs and
    // exotic JPEG SOFs quarantine by NAME (re-routable, never an ambush)
    val pol = Seq(("x")).toDF("x").select(
      Multimodal.routeOf(lit("avi"), lit("h264"), lit(null), lit(null)).as("a"),
      Multimodal.routeOf(lit("jpeg"), lit("jpeg-sof9"), lit(null), lit(null)).as("b"),
      Multimodal.routeOf(lit("wav"), lit("pcm"), lit(2), lit(null)).as("c"),
      Multimodal.routeOf(lit("bmp"), lit("rle8"), lit(null), lit(null)).as("d"),
      // null-field honesty (ADVICE r15 + policy v2): a pre-sniffed
      // manifest with the gating field NULL gets its own named verdict,
      // never a misleading sibling label or a silent decode leg
      Multimodal.routeOf(lit("wav"), lit("pcm"),
        lit(null).cast("int"), lit(null)).as("e"),
      Multimodal.routeOf(lit("gif"), lit("lzw"), lit(null),
        lit(null).cast("int")).as("f")).head
    assert(pol.getString(0) === "quarantine:avi-h264")
    assert(pol.getString(1) === "quarantine:jpeg-sof9")
    assert(pol.getString(2) === "quarantine:wav-multichannel")
    assert(pol.getString(3) === "image")
    assert(pol.getString(4) === "quarantine:wav-unknown-channels")
    assert(pol.getString(5) === "quarantine:gif-unknown-frames")
  }

  test("routeIntake is one partition-local pass: a scanned intake routes with zero exchanges") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("routeplan").toFile.getAbsolutePath
    val rows = (0L until 8L).map(i => (i, longText(i.toInt)))
    Multimodal.synthImages(packed(rows), format = "png").select(col("media_id"), col("img").as("content"))
      .unionByName(Seq((100L, "no container".getBytes("UTF-8"))).toDF("media_id", "content"))
      .write.parquet(s"$dir/in")
    val routed = Multimodal.routeIntake(spark.read.parquet(s"$dir/in"), "content")
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(routed.count() == 9L)
  }

  test("routeIntake: animated GIFs are DECIDED video (policy v3); v2 history reproducible") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, longText(31)))
    def one(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).head.getAs[Array[Byte]](0)
    val single = one(Multimodal.synthImages(packed(rows), format = "gif"), "img")
    val animated = one(Multimodal.synthAnimGif(packed(rows), nFrames = 3), "video")
    val routed = Multimodal.routeIntake(
        Seq(1L -> single, 2L -> animated).toDF("media_id", "content"), "content")
      .select("media_id", "n_frames", "route", "route_policy").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2), r.getInt(3)))).toMap
    assert(routed(1L) === ((1, "image", Multimodal.RoutePolicyVersion)))
    assert(routed(2L) === ((3, "video", Multimodal.RoutePolicyVersion)),
      "the v2 quarantine doc promised a frames-as-video leg; v3 is it")
    // historical policies stay runnable: a stored v2 manifest's verdicts
    // are reproducible byte-for-byte (animated → the v2 quarantine)
    val v2 = Multimodal.routeIntake(
        Seq(2L -> animated).toDF("media_id", "content"), "content",
        policyVersion = 2)
      .select("route", "route_policy").head
    assert(v2.getString(0) === "quarantine:gif-animated" && v2.getInt(1) === 2)
    // v3's zero-frame honesty leg: its own named verdict, not a sibling's
    val edge = Seq(("x")).toDF("x").select(
      Multimodal.routeOf(lit("gif"), lit("lzw"), lit(null), lit(0)).as("z")).head
    assert(edge.getString(0) === "quarantine:gif-no-frames")
    // and both decided GIF legs actually DECODE, frame-losslessly: the
    // single-frame leg through perceptualHash, the animated one through
    // the SAME video machinery AVI frames use
    assert(Multimodal.perceptualHash(
      Seq(1L -> single).toDF("media_id", "img")).count() === 1L)
    val frames = Multimodal.videoFrames(
      Seq(2L -> animated).toDF("media_id", "video"))
    assert(frames.count() === 3L)
  }

  test("reRoutePersisted carries a v2 corpus across the v3 gif-video widening") {
    val s = spark
    import s.implicits._
    val rows = (0L until 3L).map(i => (i, longText(60 + i.toInt)))
    def blob(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("media_id"), col(c).as("content"))
    val anim = blob(Multimodal.synthAnimGif(packed(rows)), "video")
    val img = blob(Multimodal.synthImages(packed(rows)), "img")
      .select((col("media_id") + 100).as("media_id"), col("content"))
    val dir = java.nio.file.Files.createTempDirectory("graftgifreroute").toString
    // the corpus was routed while policy v2 was current: animated GIFs sat
    // in the promised re-route bucket
    Multimodal.persistRouted(Multimodal.routeIntake(
      anim.unionByName(img), "content", policyVersion = 2), dir)
    val before = s.read.parquet(dir).groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before === Map("quarantine:gif-animated" -> 3L, "image" -> 3L))
    // the v3 leg lands; the incremental pass re-decides EXACTLY that bucket
    assert(Multimodal.reRoutePersisted(s, dir, "content") === 3L)
    val after = s.read.parquet(dir)
      .select("media_id", "route", "route_policy").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    (0L until 3L).foreach(i => assert(after(i) === (("video", 3))))
    (100L until 103L).foreach(i => assert(after(i) === (("image", 2)),
      "decided v2 verdicts keep their version — bytes never re-read"))
    // and the re-decided rows actually DECODE through the video leg
    val frames = Multimodal.videoFrames(
      s.read.parquet(dir).filter(col("route") === "video")
        .select(col("media_id"), col("content").as("video")))
    assert(frames.count() === 12L, "3 gifs x 4 composited frames")
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(s"file://$dir"),
      s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("animated GIF leg is bit-lossless and container-invariant vs the AVI leg") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, longText(41)), (1L, longText(53)))
    // parseGif ∘ buildGif = identity on planted rasters (LZW + identity
    // palette + full-frame composite are all lossless)
    val content = longText(41).getBytes("UTF-8")
    val planted = Array.tabulate(3) { f =>
      Array.tabulate(36 * 32)(i => content((f * 36 * 32 + i) % content.length) & 0xff)
    }
    val (gw, gh, got) = Multimodal.parseGif(Multimodal.buildGif(planted, 36, 32))
    assert(gw === 36 && gh === 32 && got.length === 3)
    planted.zip(got).foreach { case (p, q) => assert(p.sameElements(q)) }
    // container invariance: the same content's frames hash IDENTICALLY
    // through the GIF and DIB-AVI containers — videoFrames consumers never
    // learn which container carried the frames
    def hashes(df: org.apache.spark.sql.DataFrame) =
      Multimodal.perceptualHash(Multimodal.videoFrames(df))
        .select("media_id", "frame_no", "dhash", "ahash").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getString(3))))
        .toMap
    val viaGif = hashes(Multimodal.synthAnimGif(packed(rows))
      .select(col("media_id"), col("video")))
    val viaAvi = hashes(Multimodal.synthVideo(packed(rows))
      .select(col("media_id"), col("video")))
    assert(viaGif.nonEmpty && viaGif === viaAvi)
  }

  test("parseGif composites: frame offsets and disposal methods, not first-frame reads") {
    // hand-drive the ImageIO sequence writer with EXPLICIT image metadata:
    // frame 2 is a 2x1 patch at offset (3, 1) with restoreToBackgroundColor
    // disposal, frame 3 full-size — the decoder must window the patch onto
    // the canvas (composite), then clear the patch rect to the black ground
    // before frame 3 lands
    val w = 9; val h = 8
    val ramp = Array.tabulate[Byte](256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    def gray(fw: Int, fh: Int, v: Int) = {
      val bi = new java.awt.image.BufferedImage(fw, fh,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val ras = bi.getRaster
      for (y <- 0 until fh; x <- 0 until fw) ras.setSample(x, y, 0, v)
      bi
    }
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def writeFrame(wr: javax.imageio.ImageWriter)(
        bi: java.awt.image.BufferedImage, left: Int, top: Int,
        disposal: String): Unit = {
      val param = wr.getDefaultWriteParam
      val md = wr.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(bi), param)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      var c = tree.getFirstChild
      while (c != null) {
        c.getNodeName match {
          case "ImageDescriptor" =>
            val e = c.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
            e.setAttribute("imageLeftPosition", left.toString)
            e.setAttribute("imageTopPosition", top.toString)
          case "GraphicControlExtension" =>
            c.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
              .setAttribute("disposalMethod", disposal)
          case _ => ()
        }
        c = c.getNextSibling
      }
      md.setFromTree(fmt, tree)
      wr.writeToSequence(new javax.imageio.IIOImage(bi, null, md), param)
    }
    writeFrame(writer)(gray(w, h, 100), 0, 0, "doNotDispose")
    writeFrame(writer)(gray(2, 1, 200), 3, 1, "restoreToBackgroundColor")
    writeFrame(writer)(gray(w, h, 50), 0, 0, "doNotDispose")
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    val (pw, ph, frames) = Multimodal.parseGif(baos.toByteArray)
    assert(pw === w && ph === h && frames.length === 3)
    assert(frames(0).forall(_ == 100), "frame 1: full gray-100 canvas")
    // frame 2 composite: the 2x1 patch at (3,1) over the persisted canvas
    for (y <- 0 until h; x <- 0 until w) {
      val expect = if (y == 1 && (x == 3 || x == 4)) 200 else 100
      assert(frames(1)(y * w + x) === expect,
        s"frame 2 composite wrong at ($x,$y)")
    }
    // frame 3: full overwrite — but had it been a PATCH, the disposal
    // would have restored (3,1)-(4,1) to the black ground first; assert
    // via a fourth construction? cheaper: the full overwrite is gray-50
    assert(frames(2).forall(_ == 50), "frame 3: full gray-50 canvas")
    // disposal restoreToBackgroundColor visible when the next frame does
    // NOT cover the patch: rebuild with frame 3 as a far-corner patch
    val baos2 = new java.io.ByteArrayOutputStream()
    val ios2 = javax.imageio.ImageIO.createImageOutputStream(baos2)
    val writer2 = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer2.setOutput(ios2)
    writer2.prepareWriteSequence(null)
    writeFrame(writer2)(gray(w, h, 100), 0, 0, "doNotDispose")
    writeFrame(writer2)(gray(2, 1, 200), 3, 1, "restoreToBackgroundColor")
    writeFrame(writer2)(gray(1, 1, 250), 0, 0, "doNotDispose")
    writer2.endWriteSequence()
    writer2.dispose(); ios2.close()
    val (_, _, f2) = Multimodal.parseGif(baos2.toByteArray)
    assert(f2(2)(0) === 250, "frame 3 patch lands at (0,0)")
    assert(f2(2)(1 * w + 3) === 0 && f2(2)(1 * w + 4) === 0,
      "restoreToBackgroundColor cleared the frame-2 rect to the black ground")
    assert(f2(2)(2 * w + 3) === 100, "pixels outside the disposed rect persist")
  }

  test("sniffOne: spec-legal standalone JPEG markers (TEM) before SOS parse, not quarantine") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, longText(31)))
    val jpg = Multimodal.synthImages(packed(rows), format = "jpg")
      .select(col("img")).head.getAs[Array[Byte]](0)
    // splice a standalone TEM (FF 01) right after SOI — zero-length by
    // spec; a length-bearing parse would read garbage and demote the
    // file to corrupt:jpeg (ADVICE r15)
    val withTem = jpg.take(2) ++ Array(0xff.toByte, 0x01.toByte) ++ jpg.drop(2)
    val v = Multimodal.sniffOne(withTem)
    assert(v.head === "jpeg", s"TEM must not corrupt the walk: got ${v.head}")
    assert(v(7) === "jpeg-baseline")
  }

  test("reRoutePersisted: only the undecided partitions re-sniff; decided files untouched") {
    val s = spark
    import s.implicits._
    val rows = (0L until 6L).map(i => (i, longText(40 + i.toInt)))
    def one(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).head.getAs[Array[Byte]](0)
    val png = one(Multimodal.synthImages(packed(rows.take(1)), format = "png"), "img")
    val wav = one(Multimodal.synthAudio(packed(rows.take(1)), nSamples = 64), "audio")
    val ulaw = { val w = wav.clone(); w(20) = 7; w } // fmt tag -> µ-law
    val blobs = Seq(
      1L -> png, 2L -> png, 3L -> wav,     // decided
      4L -> ulaw, 5L -> png.take(14),      // quarantine + corrupt
      6L -> "no container".getBytes("UTF-8")).toDF("media_id", "content")
    val dir = java.nio.file.Files.createTempDirectory("graftreroute").toString
    Multimodal.persistRouted(Multimodal.routeIntake(blobs, "content"), dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(s"file://$dir"),
      s.sparkContext.hadoopConfiguration)
    def filesOf(part: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$part"))
      .map(f => (f.getPath.getName, f.getModificationTime)).sortBy(_._1).toSeq
    val imageBefore = filesOf("route=image")
    val audioBefore = filesOf("route=audio")
    // the exact pruning predicate the re-route scans with must read only
    // the undecided partitions' files (the cost-model claim) — proven by
    // the executed scan's numFiles metric, not the plan text
    val prunedDf = s.read.parquet(dir)
      .filter(!col("route").isin(Multimodal.DecidedRoutes: _*))
    prunedDf.collect()
    val scan = prunedDf.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val undecidedParts = Seq("route=quarantine", "route=corrupt", "route=unknown")
    val undecidedFileCount = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && undecidedParts.exists(p =>
        st.getPath.getName.startsWith(p)))
      .map(st => fs.listStatus(st.getPath)
        .count(f => !f.getPath.getName.startsWith("_"))).sum
    assert(undecidedFileCount > 0)
    assert(scan.metrics("numFiles").value === undecidedFileCount.toLong,
      "undecided-slice scan must list exactly the undecided partitions' files")
    val v = Multimodal.RoutePolicyVersion
    val n = Multimodal.reRoutePersisted(s, dir, "content", currentVersion = v + 1)
    assert(n === 3L, "exactly the undecided slice re-routes")
    // decided partitions: same files, same mtimes — never rewritten
    assert(filesOf("route=image") === imageBefore)
    assert(filesOf("route=audio") === audioBefore)
    val after = s.read.parquet(dir)
      .select("media_id", "route", "route_policy").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(after(1L) === (("image", v)) && after(3L) === (("audio", v)),
      "kept verdicts keep the version that decided them")
    assert(after(4L) === (("quarantine:wav-ulaw", v + 1)))
    assert(after(5L) === (("corrupt", v + 1)))
    assert(after(6L) === (("unknown", v + 1)))
    // idempotent: a second pass at the same version re-routes the (still
    // undecided) slice again but changes nothing material
    assert(Multimodal.reRoutePersisted(s, dir, "content",
      currentVersion = v + 1) === 3L)
    assert(s.read.parquet(dir).count() === 6L)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("reRoutePersisted: decided verdicts older than the decided-legs version refuse loudly") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, longText(40)))
    val png = Multimodal.synthImages(packed(rows), format = "png")
      .select(col("img")).head.getAs[Array[Byte]](0)
    val dir = java.nio.file.Files.createTempDirectory("graftrerouteold").toString
    Multimodal.persistRouted(
      Multimodal.routeIntake(Seq(1L -> png).toDF("media_id", "content"), "content")
        .withColumn("route_policy", lit(Multimodal.DecidedLegsVersion - 1)), dir)
    val e = intercept[IllegalArgumentException] {
      Multimodal.reRoutePersisted(s, dir, "content",
        currentVersion = Multimodal.RoutePolicyVersion + 1)
    }
    assert(e.getMessage.contains("FULL re-sniff"),
      s"refusal must name the remedy: ${e.getMessage}")
  }

  test("reRoutePersisted: a crash after _COMMIT completes on the next call; before it rolls back") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, longText(40)))
    val png = Multimodal.synthImages(packed(rows), format = "png")
      .select(col("img")).head.getAs[Array[Byte]](0)
    val blobs = Seq(1L -> png, 2L -> "garbage".getBytes("UTF-8"))
      .toDF("media_id", "content")
    val dir = java.nio.file.Files.createTempDirectory("graftreroutecrash").toString
    Multimodal.persistRouted(Multimodal.routeIntake(blobs, "content"), dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(s"file://$dir"),
      s.sparkContext.hadoopConfiguration)
    val v = Multimodal.RoutePolicyVersion
    // simulate a run that staged its re-sniff and crashed right after
    // writing _COMMIT (before retiring sources / moving files in)
    val staged = Multimodal.routeIntake(
        s.read.parquet(dir).filter(col("route") === "unknown")
          .select("media_id", "content"), "content")
      .withColumn("route_policy", lit(v + 1))
    staged.write.mode("overwrite").partitionBy("route")
      .parquet(s"$dir/.reroute/data")
    val commit = fs.create(new org.apache.hadoop.fs.Path(s"$dir/.reroute/_COMMIT"), false)
    commit.write("route=unknown".getBytes("UTF-8")); commit.close()
    // next call recovers the pending swap FIRST, then runs its own pass
    assert(Multimodal.reRoutePersisted(s, dir, "content",
      currentVersion = v + 2) === 1L)
    val after = s.read.parquet(dir)
      .select("media_id", "route", "route_policy").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(after(1L) === (("image", v)), "decided row untouched by recovery")
    assert(after(2L) === (("unknown", v + 2)),
      "recovered swap landed, then the new pass re-stamped the slice")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.reroute")),
      "working dir cleaned up")
    // staged WITHOUT _COMMIT is pre-decision garbage: rolled back wholesale
    // (rebuilt from a fresh read — the recovery above replaced the files
    // the first staged plan had listed)
    Multimodal.routeIntake(
        s.read.parquet(dir).filter(col("route") === "unknown")
          .select("media_id", "content"), "content")
      .withColumn("route_policy", lit(v + 1))
      .write.mode("overwrite").partitionBy("route")
      .parquet(s"$dir/.reroute/data")
    assert(Multimodal.reRoutePersisted(s, dir, "content",
      currentVersion = v + 2) === 1L)
    assert(s.read.parquet(dir).count() === 2L, "no duplicate rows after rollback")
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }

  test("sniff fuzz: every truncation, bit-flip and garbage blob yields a verdict, never a throw") {
    // at 100 TB malformed bytes are an EXPECTED input class: the sniffer's
    // contract is a total function into routable verdicts. Systematic
    // adversaries, deterministic seed — no flaky coverage:
    //  1. every prefix-truncation of one valid container per format,
    //  2. 2000 single-bit flips per format (seeded positions),
    //  3. 4000 random blobs, half with valid magics prepended.
    val rows = Seq((0L, longText(777)))
    def one(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).head.getAs[Array[Byte]](0)
    val valids: Seq[Array[Byte]] = Seq(
      one(Multimodal.synthImages(packed(rows), format = "png"), "img"),
      one(Multimodal.synthImages(packed(rows), format = "bmp"), "img"),
      one(Multimodal.synthImages(packed(rows), format = "gif"), "img"),
      one(Multimodal.synthImages(packed(rows), format = "jpg"), "img"),
      one(Multimodal.synthAudio(packed(rows), nSamples = 256), "audio"),
      one(Multimodal.synthVideo(packed(rows), nFrames = 2), "video"))
    val okFmt = Set("png", "bmp", "gif", "jpeg", "wav", "avi", "unknown")
    def verdict(b: Array[Byte]): String = {
      val v = Multimodal.sniffOne(b) // a throw here fails the test
      assert(v.length === 8, s"verdict arity must be the sniff schema")
      val f = v.head.asInstanceOf[String]
      assert(okFmt.contains(f) || f.startsWith("corrupt:"),
        s"fmt must be a routable class, got $f")
      f
    }
    // 1. every truncation of every format (header boundaries included)
    valids.foreach { b =>
      (0 to b.length).foreach(k => verdict(java.util.Arrays.copyOf(b, k)))
    }
    // 2. seeded single-bit flips — headers AND deep payload positions
    val rnd = new scala.util.Random(151)
    valids.foreach { b =>
      (0 until 2000).foreach { _ =>
        val m = b.clone()
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
        verdict(m)
      }
    }
    // 3. random garbage, half wearing a valid magic
    val magics = Seq(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      "BM".getBytes("US-ASCII"), "RIFF".getBytes("US-ASCII"),
      "GIF89a".getBytes("US-ASCII"), Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))
    (0 until 4000).foreach { i =>
      val body = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(body)
      verdict(if (i % 2 == 0) body else magics(rnd.nextInt(magics.length)) ++ body)
    }
    // and the ROUTE is total over whatever the fuzz produced: every
    // verdict class lands in a known route family (no null, no leak of
    // raw codec strings outside the quarantine namespace)
    val s2 = spark
    import s2.implicits._
    val fuzzBlobs = valids.zipWithIndex.flatMap { case (b, fi) =>
      (0 until 50).map { k =>
        val m = b.clone(); val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ 0x40).toByte
        (fi * 50L + k, m)
      }
    }
    val routes = Multimodal.routeIntake(fuzzBlobs.toDF("media_id", "content"),
        "content").select("route").distinct().collect().map(_.getString(0))
    routes.foreach { r =>
      assert(Set("image", "audio", "video", "corrupt", "unknown").contains(r)
        || r.startsWith("quarantine:"), s"route must be a known family: $r")
    }
  }

  test("persistRouted replaces the whole table in a session that holds an EventLog") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftrouted").toFile.getAbsolutePath
    // an event log in the session must leave its partitioned overwrites alone
    new graft.log.EventLog(spark, s"$dir/log", numBuckets = 2)
    val path = s"$dir/routed"
    Multimodal.persistRouted(Seq(("a", "image"), ("b", "audio")).toDF("id", "route"), path)
    Multimodal.persistRouted(Seq(("c", "video")).toDF("id", "route"), path)
    assert(spark.read.parquet(path).select("id").as[String].collect().toSeq == Seq("c"),
      "the second call's routes only")
  }
}
