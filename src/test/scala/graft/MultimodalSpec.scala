package graft

import graft.operators.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def docs = Tables.documents(spark, TestSpark.sf0001)

  test("fromDocuments: schema, modality round-robin, payload bytes") {
    val m = Multimodal.fromDocuments(Tables.documents(spark, TestSpark.sf0001))
    assert(m.columns.toSeq == Seq("media_id", "modality", "payload", "meta_source"))
    val mods = m.select("media_id", "modality").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(mods.forall { case (id, mod) =>
      mod == Seq("image", "audio", "video")((id % 3).toInt) })
  }

  test("resize: output bytes sized by target dims, deterministic") {
    val media = graft.operators.Multimodal.fromDocuments(docs)
    val r = graft.operators.Multimodal.resize(media, 64, 64)
    def snap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(x => (x.getLong(0), x.getAs[Array[Byte]]("resized").toSeq)).sortBy(_._1).toSeq
    val rows = r.collect()
    assert(rows.forall(_.getAs[Array[Byte]]("resized").length == 64 * 64 / 64))
    assert(snap(rows) == snap(graft.operators.Multimodal.resize(media, 64, 64).collect()))
  }

  test("resize on real PNGs: re-decoded output has exactly the target dims") {
    val media = Multimodal.withRealMedia(docs.limit(60))
      .filter(col("modality") === "image")
    val r = Multimodal.resize(media, 24, 16).collect()
    assert(r.nonEmpty)
    assert(r.forall { row =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("resized")))
      img != null && img.getWidth == 24 && img.getHeight == 16
    })
    // deterministic re-encode (nearest-neighbor, fixed PNG writer)
    val again = Multimodal.resize(media, 24, 16).collect()
    def snap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(x => (x.getLong(0), x.getAs[Array[Byte]]("resized").toSeq)).sortBy(_._1).toSeq
    assert(snap(r) == snap(again))
  }

  test("sampleFrames: only videos, strided indices, deterministic checksums") {
    val media = graft.operators.Multimodal.fromDocuments(docs)
    val f = graft.operators.Multimodal.sampleFrames(media, stride = 2).collect()
    assert(f.nonEmpty)
    assert(f.forall(_.getInt(1) % 2 == 0))
    val videoIds = media.filter(org.apache.spark.sql.functions.col("modality") === "video")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(f.map(_.getLong(0)).toSet.subsetOf(videoIds))
  }

  test("withRealMedia/decodeVideoMeta: multi-frame GIF round trip through javax.imageio") {
    val d = Tables.documents(spark, TestSpark.sf0001).limit(60)
    val media = Multimodal.withRealMedia(d).filter(col("modality") === "video")
    // video payloads are real GIFs: magic bytes present
    val gifs = media.collect()
    assert(gifs.nonEmpty)
    assert(gifs.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      p.length > 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F'
    })
    // decoded frame count + dims equal the synthesis contract
    val meta = Multimodal.decodeVideoMeta(media).collect()
    assert(meta.nonEmpty)
    assert(meta.forall { r =>
      val (n, w, h) = Multimodal.videoParams(r.getLong(0))
      r.getInt(1) == n && r.getInt(2) == w && r.getInt(3) == h
    })
    // sampleFrames decodes REAL frames: strided indices bounded by the
    // true frame count, deterministic pixel checksums
    val f1 = Multimodal.sampleFrames(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    assert(f1.nonEmpty)
    assert(f1.forall { case (id, idx, _) =>
      idx % 2 == 0 && idx < Multimodal.videoParams(id)._1 })
    val byId = f1.groupBy(_._1)
    assert(byId.forall { case (id, rows) =>
      rows.size == (Multimodal.videoParams(id)._1 + 1) / 2 })
    val f2 = Multimodal.sampleFrames(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    assert(f1 == f2)
  }

  test("withRealMedia/decodeImageDims: PNG round trip through javax.imageio") {
    val d = Tables.documents(spark, TestSpark.sf0001).limit(60)
    val media = Multimodal.withRealMedia(d)
    // image payloads are real PNGs: magic bytes present
    val png = media.filter(col("modality") === "image").collect()
    assert(png.nonEmpty)
    assert(png.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      p.length > 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'
    })
    // decoded dims equal the synthesis contract
    val dims = Multimodal.decodeImageDims(
        media.filter(col("modality") === "image")).collect()
    assert(dims.nonEmpty)
    assert(dims.forall { r =>
      val (w, h) = Multimodal.imageDims(r.getLong(0))
      r.getInt(1) == w && r.getInt(2) == h
    })
    // extractFeatures reports the decoded (not stub) dims for images
    val feats = Multimodal.extractFeatures(media)
      .filter(col("modality") === "image").collect()
    assert(feats.forall { r =>
      val (w, h) = Multimodal.imageDims(r.getLong(0))
      r.getInt(3) == w && r.getInt(4) == h
    })
  }

  test("withRealMedia/decodeAudioMeta: WAV round trip through javax.sound.sampled") {
    val d = Tables.documents(spark, TestSpark.sf0001).limit(60)
    val media = Multimodal.withRealMedia(d)
    // audio payloads are real WAVs: RIFF magic present
    val wav = media.filter(col("modality") === "audio").collect()
    assert(wav.nonEmpty)
    assert(wav.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      p.length > 44 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
    })
    // decoded meta equals the synthesis contract
    val meta = Multimodal.decodeAudioMeta(
        media.filter(col("modality") === "audio")).collect()
    assert(meta.nonEmpty)
    assert(meta.forall { r =>
      val (rate, frames) = Multimodal.audioParams(r.getLong(0))
      r.getInt(1) == rate && r.getLong(2) == frames && r.getInt(3) == 1
    })
    // corrupt payload → NULL fields, no crash
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("media_id", "payload")
    val b = Multimodal.decodeAudioMeta(bad).collect()
    assert(b.length == 1 && b.head.isNullAt(1) && b.head.isNullAt(2))
    // the WAV byte-length closed form the multimodal_features oracle
    // leans on: canonical 44-byte RIFF/fmt/data header + 2 bytes per
    // PCM16-mono frame — holds for every synthesized payload
    assert(wav.forall { r =>
      val (_, frames) = Multimodal.audioParams(r.getLong(0))
      r.getAs[Array[Byte]]("payload").length == 44 + 2 * frames
    })
  }

  test("decodeImageDims: corrupt payload yields NULL dims, no crash") {
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3, 4, 5))).toDF("media_id", "payload")
    val r = Multimodal.decodeImageDims(bad).collect()
    assert(r.length == 1 && r.head.isNullAt(1) && r.head.isNullAt(2))
  }

  test("every decode*: empty, truncated, random and wrong-format payloads give one null row per id") {
    import spark.implicits._
    val real = Multimodal.withRealMedia(docs.filter(col("doc_id") < 3))
      .select("modality", "payload").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    def first(media: DataFrame): Array[Byte] =
      media.orderBy("media_id").select("payload").head().getAs[Array[Byte]](0)
    val (png, wav, gif) = (real("image"), real("audio"), real("video"))
    val mp4 = first(Multimodal.withMp4Media(docs))
    val webm = first(Multimodal.withWebmMedia(docs))
    val jpeg = first(Multimodal.withJpegMedia(docs))
    val spectral = first(Multimodal.withSpectralMedia(docs))
    // a VALID WAV in a layout the PCM decoders must refuse: 8-bit stereo
    val wav8Stereo = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 2, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array.tabulate[Byte](512)(i => (i % 97).toByte)),
        fmt, 256L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val random = { val r = new scala.util.Random(13); Array.fill(64)(r.nextInt(256).toByte) }
    val pcmForeign = Seq(png, wav8Stereo)
    val decoders = Seq[(String, DataFrame => DataFrame, Array[Byte], Seq[Array[Byte]])](
      ("decodeImageDims", Multimodal.decodeImageDims, png, Seq(wav)),
      ("decodeImagePHash", Multimodal.decodeImagePHash, png, Seq(wav)),
      ("decodeImageAHash", Multimodal.decodeImageAHash, png, Seq(wav)),
      ("decodeJpegFlat", Multimodal.decodeJpegFlat, jpeg, Seq(wav)),
      ("decodeJpegError", Multimodal.decodeJpegError(_), jpeg, Seq(wav)),
      ("decodeJpegMarkers", Multimodal.decodeJpegMarkers, jpeg, Seq(png)),
      ("decodeVideoMeta", Multimodal.decodeVideoMeta, gif, Seq(wav)),
      // the per-frame decoder's null row keeps its (non-null) frame index
      ("decodeVideoFrameHashes", m => Multimodal.decodeVideoFrameHashes(m).drop("frame"),
        gif, Seq(wav)),
      ("decodeAudioMeta", Multimodal.decodeAudioMeta, wav, Seq(png)),
      ("decodeAudioSignFp", Multimodal.decodeAudioSignFp, wav, pcmForeign),
      ("decodeAudioSignFpCommon", Multimodal.decodeAudioSignFpCommon(_), wav, pcmForeign),
      ("decodeAudioZcr", Multimodal.decodeAudioZcr, wav, pcmForeign),
      ("decodeAudioSpectral", Multimodal.decodeAudioSpectral, spectral, pcmForeign),
      ("decodeMp4Meta", Multimodal.decodeMp4Meta, mp4, Seq(webm)),
      ("decodeMp4Tracks", Multimodal.decodeMp4Tracks, mp4, Seq(webm)),
      ("decodeWebmMeta", Multimodal.decodeWebmMeta, webm, Seq(mp4)),
      ("decodeWebmTracks", Multimodal.decodeWebmTracks, webm, Seq(mp4)))
    for ((name, decode, own, foreign) <- decoders) {
      // the decoder's own format cut to 12 bytes: a header, no body
      val payloads = Seq(Array.emptyByteArray, own.take(12), random) ++ foreign
      val in = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("media_id", "payload")
      val out = decode(in).collect()
      assert(out.map(_.getLong(0)).sorted.toSeq == payloads.indices.map(_.toLong),
        s"$name: not one row per id")
      out.foreach(r => assert((1 until r.length).forall(r.isNullAt), s"$name: $r"))
    }
  }

  test("extractFeatures: deterministic stub decode, n_bytes = payload size") {
    val docs = Tables.documents(spark, TestSpark.sf0001).limit(50)
    val feats = Multimodal.extractFeatures(Multimodal.fromDocuments(docs))
    assert(feats.schema == Multimodal.featureSchema)
    val joined = feats.join(docs, col("media_id") === col("doc_id"))
      .select(col("n_bytes"), octet_length(col("text")).cast("long").as("text_bytes"))
      .collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r => r.getLong(0) == r.getLong(1)))
    // determinism across runs
    val a = feats.orderBy("media_id").collect().map(_.toString).toSeq
    val b = Multimodal.extractFeatures(Multimodal.fromDocuments(docs))
      .orderBy("media_id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("phashPairs1: pigeonhole blocking is exhaustive — equals the brute pair set") {
    import org.apache.spark.sql.functions._
    val media = Multimodal.withRealMedia(
      graft.sources.Tables.documents(spark, TestSpark.sf0001))
      .filter(col("modality") === "image")
    val hashes = Multimodal.decodeImagePHash(media).localCheckpoint()
    val blocked = graft.operators.Dedup.hammingPairs(hashes, "media_id", "phash", 15, 1)
      .select("doc_a", "doc_b").orderBy("doc_a", "doc_b").collect().toSeq
    val brute = hashes.as("a").join(hashes.as("b"),
        col("a.media_id") < col("b.media_id"))
      .filter(expr("bit_count(a.phash ^ b.phash)") <= 1)
      .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(blocked == brute, s"${blocked.size} blocked vs ${brute.size} brute")
    assert(brute.nonEmpty, "fixture should contain hamming<=1 pairs")
  }

  test("gridPHash: exactly invariant to brightness shift and contrast scale, unlike content change") {
    def img(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 16) {
        val g = f(x, y) & 0xff
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      im
    }
    // non-separable term gives a full low-frequency spectrum (a pure
    // linear gradient has exactly-zero interior DCT coefficients);
    // values ≤ 91, so both +30 and ×2 stay clip-free under & 0xff
    def f(x: Int, y: Int) = 10 + 2 * x + 3 * y + ((x * y) % 7)
    val base = img(f)
    val bright = img((x, y) => f(x, y) + 30)
    val contrast = img((x, y) => f(x, y) * 2)
    val other = img((x, y) => 10 + 3 * x + 2 * y + ((x + y) % 5))
    val h = Multimodal.gridPHash(base)
    // +c moves only the (excluded) DC coefficient; ×a scales coefs AND
    // median together — both preserve every threshold comparison EXACTLY
    assert(Multimodal.gridPHash(bright) == h, "brightness shift changed the pHash")
    assert(Multimodal.gridPHash(contrast) == h, "contrast scale changed the pHash")
    assert(Multimodal.gridPHash(other) != h, "a different image collided")
    // 15-bit domain, median split ⇒ exactly 7 bits set (no coef ties here)
    assert(java.lang.Long.bitCount(h) == 7)
  }

  test("mp4 box walk: round-trips the synthesis contract; corrupt trees yield null rows") {
    import spark.implicits._
    val docs = (0L until 40L).map(q => (3 * q + 2, "x", "src0"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.withMp4Media(docs).localCheckpoint()
    val got = Multimodal.decodeMp4Meta(media)
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Int], Option[Int])]
      .collect().map(r => r._1 -> (r._2.get, r._3.get, r._4.get, r._5.get, r._6.get)).toMap
    got.keys.foreach { id =>
      val (ts, dur, n, w, h) = Multimodal.mp4Params(id)
      assert(got(id) == ((ts, dur, n, w, h)), s"media $id")
    }
    assert(got.size == 40)
    // corrupt trees: garbage bytes, a box size pointing past the buffer,
    // and a truncated header — all null rows, never a crash
    val good = media.select("payload").head().getAs[Array[Byte]](0)
    val oversize = good.clone(); oversize(0) = 0x7f.toByte // first box size huge
    val bad = Seq(
      (1L, "garbage-not-an-mp4".getBytes("UTF-8")),
      (2L, oversize),
      (3L, good.take(6))).toDF("media_id", "payload")
    val nulls = Multimodal.decodeMp4Meta(bad).collect()
    assert(nulls.length == 3 && nulls.forall(_.isNullAt(1)))
  }

  test("mp4 track walk: hdlr AFTER stbl still resolves audio fields (ISO " +
    "BMFF does not mandate box order inside mdia)") {
    import spark.implicits._
    // hand-built trak with the hdlr placed LAST inside mdia — the foreign
    // box order the round-17 buffered-stsd fix exists for; the fixture
    // encoder always writes hdlr first, so this path needs its own bytes
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    // AudioSampleEntry 'opus': 36 bytes total — channels at +24, 16.16 rate at +32
    val entry = be32(36L) ++ "opus".getBytes("US-ASCII") ++
      new Array[Byte](16) ++ be16(2) ++ be16(16) ++ new Array[Byte](4) ++
      be32(44100L << 16)
    val stsd = box("stsd", new Array[Byte](8) ++ entry)
    val hdlr = box("hdlr", new Array[Byte](8) ++ "soun".getBytes("US-ASCII") ++ new Array[Byte](4))
    val tkhd = box("tkhd", new Array[Byte](84).patch(12, be32(7L), 4)) // track id 7 at +20
    def trak(mdiaKids: Array[Byte]) = box("trak", tkhd ++ box("mdia", mdiaKids))
    val hdlrLast = box("moov", trak(box("minf", box("stbl", stsd)) ++ hdlr))
    val hdlrFirst = box("moov", trak(hdlr ++ box("minf", box("stbl", stsd))))
    val got = Multimodal.decodeMp4Tracks(
        Seq((1L, hdlrLast), (2L, hdlrFirst)).toDF("media_id", "payload"))
      .as[(Long, Option[Int], Option[String], Option[String], Option[Int], Option[Int], Option[Int], Option[Int])]
      .collect().map(r => r._1 -> ((r._2.get, r._3.get, r._4.get, r._5, r._6))).toMap
    val want = ((7, "soun", "opus", Some(2), Some(44100)))
    assert(got(2L) == want, "hdlr-first baseline broke")
    assert(got(1L) == want, "hdlr-after-stbl order must resolve identically")
  }

  test("webm EBML walk: round-trips the synthesis contract at both VINT " +
    "widths; corrupt trees yield null rows") {
    import spark.implicits._
    // 40 consecutive video ids cover both vint-pad parities, all track
    // counts, multiple Void sizes and both Duration magnitudes
    val docs = (0L until 40L).map(q => (3 * q + 2, "x", "src0"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.withWebmMedia(docs).localCheckpoint()
    val got = Multimodal.decodeWebmMeta(media)
      .as[(Long, Option[Int], Option[Int], Option[Int], Option[Int], Option[Int])]
      .collect().map(r => r._1 -> (r._2.get, r._3.get, r._4.get, r._5.get, r._6.get)).toMap
    got.keys.foreach { id =>
      val (ts, dur, n, w, h) = Multimodal.webmParams(id)
      assert(got(id) == ((ts, dur, n, w, h)), s"media $id")
    }
    assert(got.size == 40)
    // corrupt trees: garbage, a zero lead byte (invalid VINT), a size
    // running past the buffer, a truncated payload — null rows, no crash
    val good = media.select("payload").head().getAs[Array[Byte]](0)
    val zeroLead = good.clone(); zeroLead(0) = 0x00.toByte
    // a Void element whose size VINT (width 2, value 1000) points far
    // past the end of the buffer
    val overSz = Array(0xec.toByte, 0x43.toByte, 0xe8.toByte)
    val bad = Seq(
      (1L, "garbage-not-ebml-at-all".getBytes("UTF-8")),
      (2L, zeroLead),
      (3L, overSz),
      (4L, good.take(9))).toDF("media_id", "payload")
    val nulls = Multimodal.decodeWebmMeta(bad).collect()
    assert(nulls.length == 4 && nulls.forall(_.isNullAt(1)))
  }

  test("per-track container walks round-trip the shared track contract " +
    "in BOTH containers; corrupt trees yield the null row") {
    import spark.implicits._
    val docs = (0L until 40L).map(q => (3 * q + 2, "x", "src0"))
      .toDF("doc_id", "text", "source")
    // mp4 side
    val mp4 = Multimodal.withMp4Media(docs).localCheckpoint()
    val mp4Rows = Multimodal.decodeMp4Tracks(mp4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    assert(mp4Rows.nonEmpty)
    mp4Rows.foreach { case (id, rows) =>
      val (_, _, n, w, h) = Multimodal.mp4Params(id)
      assert(rows.length == n, s"media $id track count")
      rows.zipWithIndex.foreach { case (r, i) =>
        val t = i + 1
        val (isAudio, codec, ch, rate) = Multimodal.mp4TrackParams(id, t)
        assert(r.getInt(1) == t && r.getString(3) == codec)
        assert(r.getString(2) == (if (isAudio) "soun" else "vide"))
        if (isAudio)
          assert(r.getInt(4) == ch && r.getInt(5) == rate && r.isNullAt(6))
        else
          assert(r.isNullAt(4) && r.getInt(6) == w && r.getInt(7) == h)
      }
    }
    // webm side: same selector formulas, Matroska namespace
    val webm = Multimodal.withWebmMedia(docs).localCheckpoint()
    val webmRows = Multimodal.decodeWebmTracks(webm).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    webmRows.foreach { case (id, rows) =>
      val (_, _, n, w, h) = Multimodal.webmParams(id)
      assert(rows.length == n, s"webm media $id track count")
      rows.zipWithIndex.foreach { case (r, i) =>
        val t = i + 1
        val (isAudio, _, ch, rate) = Multimodal.mp4TrackParams(id, t)
        assert(r.getInt(1) == t && r.getString(3) == Multimodal.webmCodecId(id, t))
        assert(r.getInt(2) == (if (isAudio) 2 else 1))
        if (isAudio)
          assert(r.getInt(4) == ch && r.getInt(5) == rate && r.isNullAt(6))
        else
          assert(r.isNullAt(4) && r.getInt(6) == w && r.getInt(7) == h)
      }
    }
    // corrupt payloads: single null row each, never a crash
    val badM = Seq((1L, "garbage".getBytes("UTF-8"))).toDF("media_id", "payload")
    assert(Multimodal.decodeMp4Tracks(badM).collect()
      .forall(r => r.isNullAt(1) && r.isNullAt(3)))
    assert(Multimodal.decodeWebmTracks(badM).collect()
      .forall(r => r.isNullAt(1) && r.isNullAt(3)))
  }

  test("jpeg tier: flat gray is pixel-exact over ALL 256 grays; textured " +
    "error is bounded AND nonzero; marker walk matches the codec's layout") {
    import spark.implicits._
    // 96 image ids (doc_id = 3q): 48 flat + 48 textured
    val docs = (0L until 96L).map(q => (3 * q, "x", "src0"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.withJpegMedia(docs).localCheckpoint()
    // marker structure: the deterministic codec layout, every payload
    val meta = Multimodal.decodeJpegMarkers(media).collect()
    assert(meta.length == 96)
    meta.foreach { r =>
      val id = r.getLong(0)
      val (w, h, _) = Multimodal.jpegParams(id)
      // full-stream walk (round 18): progressive = SOF2, 10 scans, 10
      // Huffman tables TOTAL (2 before the first SOS + the between-scan
      // tables); baseline = SOF0, 1 scan, 4 tables. JDK-encoder
      // constants (BASELINE.md "Round-18 JPEG full-stream constants") —
      // see the oracle comment.
      val (nDht, sof, nScans) =
        if (Multimodal.jpegVariant(id) == 2) (10, 0xc2, 10) else (4, 0xc0, 1)
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
        r.getInt(6), r.getInt(7), r.getInt(8)) ==
        ((w, h, 3, 2, nDht, sof, 1, nScans)), s"media $id")
    }
    // all three textured variants present in the fixture slice
    val variants = meta.map(r => Multimodal.jpegVariant(r.getLong(0))).toSet
    assert(variants == Set(0, 1, 2))
    // flat rows: bit-exact decoded gray, uniform
    val flat = Multimodal.decodeJpegFlat(
      media.filter((col("media_id") / 3).cast("long") % 2 === 0)).collect()
    assert(flat.length == 48)
    flat.foreach { r =>
      assert(r.getInt(1) == (r.getLong(0) % 256).toInt && r.getBoolean(2),
        s"flat media ${r.getLong(0)} not pixel-exact")
    }
    // and exhaustively: every gray value 0..255 round-trips exactly
    val allGrays = (0 until 256).map { g =>
      val img = new java.awt.image.BufferedImage(12, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 10; x <- 0 until 12) img.setRGB(x, y, (g << 16) | (g << 8) | g)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); writer.dispose()
      val d = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
      (0 until 10).forall(y => (0 until 12).forall(x => d.getRGB(x, y) == ((0xff << 24) | (g << 16) | (g << 8) | g)))
    }
    assert(allGrays.forall(identity), "a flat gray failed to round-trip bit-exactly")
    // textured rows: both bounds hold, and the codec is REALLY lossy
    val texturedMedia = media.filter((col("media_id") / 3).cast("long") % 2 === 1)
    val err = Multimodal.decodeJpegError(texturedMedia).collect()
    assert(err.length == 48 && err.forall(r => r.getBoolean(2) && r.getBoolean(3)))
    // measure the distributions the card's two bounds cover, per variant
    def lum(r0: Int, g0: Int, b0: Int): Int = (77 * r0 + 150 * g0 + 29 * b0) >> 8
    val measured = texturedMedia.collect().map { r =>
      val id = r.getLong(0)
      val d = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
      val errs = (0 until d.getHeight).flatMap(y => (0 until d.getWidth).map { x =>
        val (wr, wg, wb) = Multimodal.jpegRgb(id, x, y)
        val px = d.getRGB(x, y)
        val (gr, gg, gb) = ((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        (math.abs(lum(wr, wg, wb) - lum(gr, gg, gb)),
          math.max(math.abs(wr - gr), math.max(math.abs(wg - gg), math.abs(wb - gb))))
      })
      (Multimodal.jpegVariant(id), errs.map(_._1).max, errs.map(_._2).max)
    }
    val lumaMax = measured.map(_._2).max
    assert(lumaMax <= 64, s"max luma err $lumaMax exceeds the card's bound")
    assert(lumaMax >= 8, "decode suspiciously exact - the lossy card is vacuous")
    val chromaMax = measured.filter(_._1 >= 1).map(_._3).max
    assert(chromaMax <= 240, s"max rgb err $chromaMax exceeds the chroma bound")
    assert(chromaMax > 64,
      "color variants show no subsampling damage - the chroma bound is the luma bound")
    // gray variant: rgb error IS the luma error (no chroma content)
    assert(measured.filter(_._1 == 0).map(_._3).max <= 64)
    // corrupt streams: garbage, truncated segment, stray non-marker byte
    val good = media.select("payload").head().getAs[Array[Byte]](0)
    val badLen = good.clone(); badLen(4) = 0x7f.toByte // APP0 length huge
    val bad = Seq(
      (1L, "not-a-jpeg-at-all".getBytes("UTF-8")),
      (2L, badLen),
      (3L, good.take(3)),
      (4L, good.dropRight(2))). // EOI removed: a scan that never terminates
      toDF("media_id", "payload")
    val nulls = Multimodal.decodeJpegMarkers(bad).collect()
    assert(nulls.length == 4 && nulls.forall(_.isNullAt(1)))
  }

  test("webm EBML walk: well-formed foreign files with >32-bit or >8-octet " +
    "uints take the null row, never a wrapped value") {
    import spark.implicits._
    // Segment > Info > (TimestampScale, Duration) built by hand; tsPayload
    // parameterizes the TimestampScale uint
    def mkWebm(tsPayload: Array[Byte]): Array[Byte] = {
      val tsEl = Array(0x2a, 0xd7, 0xb1, 0x80 | tsPayload.length).map(_.toByte) ++ tsPayload
      val durEl = Array(0x44, 0x89, 0x84, 0x42, 0xc8, 0x00, 0x00).map(_.toByte) // f32 100.0
      val info = Array(0x15, 0x49, 0xa9, 0x66, 0x80 | (tsEl.length + durEl.length))
        .map(_.toByte) ++ tsEl ++ durEl
      Array(0x18, 0x53, 0x80, 0x67, 0x80 | info.length).map(_.toByte) ++ info
    }
    val inRange = mkWebm(Array(0x03, 0xe8).map(_.toByte)) // ts = 1000
    val wide33 = mkWebm(Array(0x01, 0, 0, 0, 0).map(_.toByte)) // ts = 2^32: fits Long, not Int
    val wide72 = mkWebm(Array.fill(9)(0x01.toByte)) // 9-octet uint: malformed per RFC 8794 §7.1
    val rows = Multimodal.decodeWebmMeta(
        Seq((1L, inRange), (2L, wide33), (3L, wide72)).toDF("media_id", "payload"))
      .orderBy("media_id").collect()
    assert(rows(0).getInt(1) == 1000 && rows(0).getInt(2) == 100)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
  }

  test("spectral tier: tri/sq partners fool the sign fingerprint but never the spectral one") {
    import spark.implicits._
    // 4 clips per synthesis class (48 audio docs, doc_id = 3q+1)
    val docs = (0L until 48L).map(q => (3 * q + 1, "x", "src0"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.withSpectralMedia(docs).localCheckpoint()
    val params = media.select("media_id").as[Long].collect()
      .map(id => id -> Multimodal.spectralParams(id)).toMap
    val sign = Multimodal.decodeAudioSignFp(media)
      .as[(Long, java.lang.Long)].collect().toMap
    val spec = Multimodal.decodeAudioSpectral(media)
      .select("media_id", "fp").as[(Long, java.lang.Long)].collect().toMap
    assert(sign.values.forall(_ != null) && spec.values.forall(_ != null))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val ids = params.keys.toSeq.sorted
    var blind = 0
    for (a <- ids; b <- ids if a < b) {
      val (fa, sqa, ra, _) = params(a)
      val (fb, sqb, rb, _) = params(b)
      if (fa == fb && ra == rb && sqa != sqb) {
        // the planted blind spot: identical signs, spectrally distinct
        assert(sign(a) == sign(b), s"sign fp must collide for $a/$b")
        assert(ham(spec(a), spec(b)) >= 2, s"spectral fp must separate $a/$b")
        blind += 1
      }
      if (fa == fb && sqa == sqb)
        assert(ham(spec(a), spec(b)) <= 1, s"same content $a/$b must stay close")
    }
    assert(blind > 0)
    // the pair stage realizes exactly that separation: every same-content
    // pair present (cross-rate included), no tri-vs-sq partner pair
    val pairs = Multimodal.spectralPairs(Multimodal.decodeAudioSpectral(media))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (a <- ids; b <- ids if a < b) {
      val (fa, sqa, _, _) = params(a)
      val (fb, sqb, _, _) = params(b)
      if (fa == fb && sqa == sqb)
        assert(pairs.contains((a, b)), s"missing same-content pair $a/$b")
      if (fa == fb && sqa != sqb)
        assert(!pairs.contains((a, b)), s"false tri/sq pair $a/$b")
    }
  }
}
