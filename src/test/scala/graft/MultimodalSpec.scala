package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.Multimodal

/** Multimodal plumbing on the sf0.001 testdata-derived media table:
  * binary content + typed metadata schema, partition-wise decode batch
  * shape, filter-before-decode, and frame fan-out. */
class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("mediaTable: binary content with consistent typed metadata") {
    val rows = Multimodal.mediaTable(spark, dir).limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]]("content").length.toLong === r.getAs[Long]("n_bytes"))
      assert(Set("image", "audio", "video").contains(r.getAs[String]("kind")))
    }
  }

  test("extractFeatures: fixed-dim deterministic features per row") {
    val f = Multimodal.extractFeatures(spark, dir).collect()
    val docs = Tables.documents(spark, dir).count()
    assert(f.length.toLong === docs)
    assert(f.forall(_.features.length === Multimodal.FeatureDim))
    // deterministic: re-running yields identical vectors
    val f2 = Multimodal.extractFeatures(spark, dir).collect()
      .map(x => x.media_id -> x.features.toSeq).toMap
    assert(f.forall(x => f2(x.media_id) === x.features.toSeq))
  }

  test("resizeImages: only image rows, metadata tracks new content") {
    val r = Multimodal.resizeImages(spark, dir, 64, 32).collect()
    assert(r.nonEmpty)
    r.foreach { m =>
      assert(m.kind === "image")
      assert(m.width === 64 && m.height === 32)
      assert(m.n_bytes === m.content.length.toLong)
      assert(m.content.length === 64 * 32 / 64)
    }
  }

  test("sampleFrames: n frames per video row, map-side fan-out") {
    val frames = Multimodal.sampleFrames(spark, dir, n = 4).collect()
    val videos = Multimodal.mediaTable(spark, dir)
      .filter(col("kind") === "video").count()
    assert(frames.length.toLong === videos * 4)
    assert(frames.map(_.frame_no).toSet === Set(0, 1, 2, 3))
  }

  test("stub decode is the documented byte-fold (oracle-replayable)") {
    // Recompute one row's features with an independent implementation
    // of the documented fold: channel c sums (byte - 127.5)/127.5 in
    // double over positions i % 32 == c, then one final float cast.
    val row = Multimodal.mediaTable(spark, dir)
      .select("media_id", "content").limit(1).collect().head
    val content = row.getAs[Array[Byte]]("content")
    val expected = {
      val acc = new Array[Double](Multimodal.FeatureDim)
      content.zipWithIndex.foreach { case (b, i) =>
        acc(i % Multimodal.FeatureDim) += ((b & 0xFF) - 127.5d) / 127.5d
      }
      acc.map(_.toFloat).toSeq
    }
    val got = Multimodal.extractFeatures(spark, dir)
      .filter(col("media_id") === row.getAs[Long]("media_id"))
      .collect().head.features.toSeq
    assert(got === expected)
  }

  test("featureNorms: per-kind gate rows with positive norms") {
    val n = Multimodal.featureNorms(spark, dir).collect()
    assert(n.map(_.getAs[String]("kind")).toSet === Set("image", "audio", "video"))
    n.foreach { r =>
      assert(r.getAs[Long]("n_items") > 0)
      assert(r.getAs[Double]("avg_norm") > 0.0)
      assert(r.getAs[Double]("max_norm") >= r.getAs[Double]("avg_norm"))
    }
  }

  test("mediaNearDups: byte-identical payloads pair at cosine 1, cross-kind never pairs") {
    // doc_ids 0 and 3 are both kind=image (id % 3 == 0) with identical
    // text -> identical byte-fold features -> cosine exactly 1.
    // doc 6 (image) has disjoint character content; docs 1/2 are other
    // kinds and must never pair with images regardless of similarity.
    val mdir = TestSpark.documentsFixture(Seq(
      (0L, "aaaa bbbb cccc dddd", "en", "s"),
      (3L, "aaaa bbbb cccc dddd", "en", "s"),
      (6L, "zz!? 019 ZZZZ !!!!", "en", "s"),
      (1L, "aaaa bbbb cccc dddd", "en", "s"),
      (2L, "aaaa bbbb cccc dddd", "en", "s")))
    val pairs = Multimodal.mediaNearDups(spark, mdir, threshold = 0.99).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"),
        r.getAs[String]("kind"), r.getAs[Double]("feature_cosine")))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == "image" && p._4 == 1.0))
    // no cross-kind pair can exist by construction
    assert(pairs.forall(p => (p._1 % 3) == (p._2 % 3)))
  }

  test("mediaProfile groups by kind with exact byte accounting") {
    val p = Multimodal.mediaProfile(spark, dir).collect()
    assert(p.map(_.getAs[String]("kind")).toSet === Set("image", "audio", "video"))
    val total = p.map(_.getAs[Long]("total_bytes")).sum
    val expected = Multimodal.mediaTable(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_bytes")).collect().head.getLong(0)
    assert(total === expected)
  }

  test("media kernels leave ImageIO's JVM-global stream-cache setting as it was") {
    val before = javax.imageio.ImageIO.getUseCache
    // an encode (the table), a decode and a decode + re-encode kernel
    assert(Multimodal.decodeImageStats(spark, dir).count() > 0)
    assert(Multimodal.resizeDecodedPng(spark, dir, 4, 3).count() > 0)
    assert(javax.imageio.ImageIO.getUseCache === before)
    // nothing in the engine turns the JDK default off
    assert(javax.imageio.ImageIO.getUseCache)
  }

  test("pngImageTable: content is genuine PNG (magic bytes, ImageIO round-trip)") {
    val rows = Multimodal.pngImageTable(spark, dir).limit(10).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val content = r.getAs[Array[Byte]]("content")
      // PNG signature: 89 50 4E 47 0D 0A 1A 0A
      assert((content(0) & 0xFF) == 0x89 && content(1) == 'P' &&
        content(2) == 'N' && content(3) == 'G')
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content))
      val id = r.getAs[Long]("media_id")
      assert(img.getWidth == (id % 6 + 4).toInt)
      assert(img.getHeight == (id % 5 + 3).toInt)
      // decoded pixel (1,2) equals the documented generator exactly
      val rgb = img.getRGB(1, 2)
      assert(((rgb >> 16) & 0xFF) ==
        ((id * 37 + 1 * 11 + 2 * 7 + 1 * 2 * 3) % 256).toInt)
      assert(((rgb >> 8) & 0xFF) ==
        ((id * 53 + 1 * 5 + 2 * 3 + 1 * 2 * 7) % 256).toInt)
      assert((rgb & 0xFF) ==
        ((id * 71 + 1 * 13 + 2 * 17 + 1 * 2 * 11) % 256).toInt)
    }
  }

  test("decodeImageStats: decoded dims match the generator grid; means in [0,255]") {
    val stats = Multimodal.decodeImageStats(spark, dir).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("width") == (id % 6 + 4).toInt)
      assert(r.getAs[Int]("height") == (id % 5 + 3).toInt)
      Seq("r_mean", "g_mean", "b_mean").foreach { c =>
        val m = r.getAs[Double](c)
        assert(m >= 0.0 && m <= 255.0)
      }
    }
  }

  test("imageAHash: 64-bit strings, stable across runs, non-degenerate") {
    val a = Multimodal.imageAHash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Multimodal.imageAHash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    assert(a.values.forall(h => h.length == 64 && h.forall(c => c == '0' || c == '1')))
    // the generator varies pixels within every image, so no hash is all-zero
    assert(a.values.forall(h => h.contains('1') && h.contains('0')))
  }

  test("wavAudioTable: content is a genuine RIFF/WAVE container") {
    val rows = Multimodal.wavAudioTable(spark, dir)
      .select("media_id", "content").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[Array[Byte]]("content")
      assert(new String(c.take(4), "US-ASCII") == "RIFF")
      assert(new String(c.slice(8, 12), "US-ASCII") == "WAVE")
      assert(r.getAs[Long]("media_id") % 3 == 1L)
    }
  }

  test("decodeAudioStats: decoded counts match the generator contract") {
    val rows = Multimodal.decodeAudioStats(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("n_samples") == id % 50 + 30)
      assert(r.getAs[Long]("sample_rate") == 8000L)
      val peak = r.getAs[Long]("peak")
      assert(peak > 0L && peak <= 32768L)
      assert(r.getAs[Double]("rms") > 0.0)
    }
  }

  test("resampleDecodedWav: half the samples at half the rate") {
    val full = Multimodal.decodeAudioStats(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("n_samples"))
      .toMap
    val half = Multimodal.resampleDecodedWav(spark, dir).collect()
    assert(half.nonEmpty)
    half.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("n_samples") == (full(id) + 1) / 2)
      assert(r.getAs[Long]("sample_rate") == 4000L)
    }
  }

  test("decodeWav path refuses non-audio bytes loudly") {
    import spark.implicits._
    val bad = Seq((1L, "not a wav".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val e = intercept[org.apache.spark.SparkException] {
      bad.as[(Long, Array[Byte])].mapPartitions { rows =>
        rows.map { case (_, c) =>
          javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(c))
          1
        }
      }.collect()
    }
    assert(e.getMessage != null)
  }

  test("mp4VideoTable: content is genuine ISO-BMFF (ftyp first, parseable boxes)") {
    val rows = graft.operators.Multimodal.mp4VideoTable(
      TestSpark.spark, TestSpark.sfDir).limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[Array[Byte]]("content")
      assert(new String(c, 4, 4, "US-ASCII") === "ftyp")
      val m = graft.operators.Multimodal.parseMp4(c)
      assert(m.brand === "isom" && m.codec === "png" && m.nTracks === 1)
      assert(m.sampleSizes.nonEmpty && m.firstChunkOff > 0)
    }
  }

  test("mp4ContainerMeta: parsed values match the generator contract") {
    val rows = graft.operators.Multimodal.mp4ContainerMeta(
      TestSpark.spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("timescale") === (600 + (id % 4) * 200).toInt)
      assert(r.getAs[Int]("n_samples") === (id % 3 + 2).toInt)
      assert(r.getAs[Long]("duration_ms") === (id % 3 + 2) * 100L)
    }
  }

  test("mp4FrameStats: every sample decodes; frame count matches stsz") {
    val df = graft.operators.Multimodal.mp4FrameStats(
      TestSpark.spark, TestSpark.sfDir)
    val counts = df.groupBy("media_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("nf")).collect()
    assert(counts.nonEmpty)
    counts.foreach { r =>
      assert(r.getAs[Long]("nf") === (r.getAs[Long]("media_id") % 3 + 2))
    }
  }

  test("parseMp4 tolerates unknown sibling boxes and refuses malformed sizes") {
    val M = graft.operators.Multimodal
    val good = M.mp4Bytes(7L)
    val base = M.parseMp4(good)
    // a trailing 'free' box (unknown to the walker) must be skipped
    val withFree = good ++ M.mp4Box("free", Array.fill(8)(0x5a.toByte))
    val m = M.parseMp4(withFree)
    assert(m.timescale === base.timescale &&
      m.duration === base.duration && m.nTracks === base.nTracks &&
      java.util.Arrays.equals(m.sampleSizes, base.sampleSizes))
    // a box whose declared size overruns the buffer must fail loudly
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 4)
    intercept[IllegalArgumentException] { M.parseMp4(truncated) }
  }

  test("decodePng path refuses non-image bytes loudly") {
    import spark.implicits._
    val bad = Seq((1L, "not a png".getBytes("UTF-8")))
      .toDF("media_id", "content")
    val e = intercept[org.apache.spark.SparkException] {
      bad.as[(Long, Array[Byte])].mapPartitions { rows =>
        rows.map { case (_, c) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(c))
          require(img != null, "content is not a decodable image")
          1
        }
      }.collect()
    }
    assert(e.getMessage != null)
  }
  test("pngBytesWithMeta: splice keeps a valid decodable PNG, CRC damage is caught") {
    val b = graft.operators.Multimodal.pngBytesWithMeta(6L)
    // still a valid PNG after the ancillary splice: decodes to the
    // generator dimensions (6 % 6 + 4 = 4 wide, 6 % 5 + 3 = 4 tall)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    assert(img != null && img.getWidth === 4 && img.getHeight === 4)
    // the walker sees the injected metadata and verifies every CRC
    val dir = TestSpark.documentsFixture(Seq(
      (3L, "three words here", "en", "web"),
      (6L, "six words here too yes ok", "en", "web")))
    val rows = graft.operators.Multimodal.pngChunkInventory(TestSpark.spark, dir)
      .collect()
    assert(rows.map(_.getAs[Long]("media_id")).toSeq === Seq(3L, 6L))
    rows.foreach { r =>
      assert(r.getAs[String]("text_val") === "doc_" + r.getAs[Long]("media_id"))
      assert(r.getAs[Long]("ppu_x") === 2835L)
      assert(r.getAs[Long]("n_ancillary") === 2L)
      assert(r.getAs[Boolean]("all_crc_ok"))
    }
    // flip one byte inside the tEXt payload (not its stored CRC):
    // the walker's CRC32 re-check must flag it
    val idx = {
      val sig = "tEXt".getBytes("US-ASCII")
      b.indexOfSlice(sig) + 4 + 2 // a couple bytes into the key
    }
    val damaged = b.clone(); damaged(idx) = (damaged(idx) ^ 0x01).toByte
    val bb = java.nio.ByteBuffer.wrap(damaged)
    bb.position(8)
    var anyBad = false
    while (bb.remaining() >= 12) {
      val len = bb.getInt
      val tb = new Array[Byte](4); bb.get(tb)
      val data = new Array[Byte](len); bb.get(data)
      val stored = bb.getInt
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      if (crc.getValue.toInt != stored) anyBad = true
    }
    assert(anyBad)
  }
  test("mp4ShotDetection: transitions start at frame 1, flag matches threshold") {
    val rows = graft.operators.Multimodal
      .mp4ShotDetection(TestSpark.spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("frame_no") >= 1) // frame 0 has no predecessor
      val mad = r.getAs[Double]("mad")
      assert(mad >= 0.0 && mad <= 255.0)
      assert(r.getAs[Boolean]("is_cut") === (mad > 60.0))
    }
    // per video: transitions = frames - 1 (id%3+2 frames for id%3==2)
    val perVid = rows.groupBy(_.getAs[Long]("media_id")).view.mapValues(_.length)
    perVid.foreach { case (id, n) => assert(n === (id % 3 + 2 - 1).toInt) }
  }
  test("wavBytesWithMeta: splice keeps a decodable WAV, walker reads the tag") {
    val b = graft.operators.Multimodal.wavBytesWithMeta(7L)
    // still decodable by the JDK codec after the LIST/INFO splice
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(b))
    assert(ais.getFormat.getSampleRate === 8000f)
    assert(ais.getFrameLength === (7 % 50 + 30))
    val dir = TestSpark.documentsFixture(Seq(
      (1L, "one words here", "en", "web"),
      (7L, "seven words here too", "en", "web")))
    val rows = graft.operators.Multimodal
      .wavChunkInventory(TestSpark.spark, dir).collect()
    assert(rows.map(_.getAs[Long]("media_id")).toSeq === Seq(1L, 7L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chunks") === 3L)
      assert(r.getAs[Int]("channels") === 1)
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Int]("bits") === 16)
      assert(r.getAs[Long]("n_samples") ===
        r.getAs[Long]("media_id") % 50 + 30)
      assert(r.getAs[String]("inam") === "doc_" + r.getAs[Long]("media_id"))
    }
  }
}