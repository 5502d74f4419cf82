package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import scala.util.control.NonFatal

/** Multimodal column plumbing: image/audio/video as opaque BINARY payloads
  * with typed metadata, plus a decode/feature-extract stage.
  *
  * All three modalities decode through REAL JDK codecs: PNG via
  * javax.imageio, WAV via javax.sound.sampled, and video via the
  * javax.imageio multi-frame GIF reader (the one multi-frame container
  * the JDK can both write and read — it stands in for the video container
  * a production pipeline would decode via FFI). The deterministic
  * byte-derived STUB survives only as the corrupt-payload fallback, so a
  * payload no codec can parse is data, not a crash.
  *
  * Scale posture: payloads never pass through a shuffle here — every
  * encoder and decoder is one narrow mapPartitions directly over the scan
  * ([[decodeFrame]]); metadata-only queries (count by modality, size
  * stats) prune the payload column entirely at the parquet reader.
  */
object Multimodal {

  private val idField = StructField("media_id", LongType, nullable = false)

  val mediaSchema: StructType = StructType(Seq(
    idField,
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta_source", StringType)))

  /** Nullable output fields, by name and type. */
  private def fieldsOf(specs: (String, DataType)*): Seq[StructField] =
    specs.map { case (n, t) => StructField(n, t) }

  /** The one frame every encoder and decoder runs in: `in`'s rows (a LONG
    * id first, then what the codec reads) map narrowly, per partition and
    * never through a shuffle, to rows of `media_id LONG NOT NULL` +
    * `fields`. `decoder` is evaluated once per partition, so pooled
    * readers live in it; it maps one input row to its output rows, id
    * excluded (Rows, not Seqs: a Seq literal of Int and Long values
    * would widen the Ints, which the Int fields reject). A NonFatal
    * throw or a null result becomes the one all-null row — corrupt files
    * are data, not crashes; an empty result emits no row.
    */
  private def decodeFrame(in: DataFrame, fields: Seq[StructField])(
      decoder: => Row => Seq[Row]): DataFrame = {
    val nulls = Seq(Row.fromSeq(Seq.fill(fields.length)(null)))
    val out = in.rdd.mapPartitions { rows =>
      val decode = decoder
      rows.flatMap { r =>
        val res = try decode(r) catch { case NonFatal(_) => null }
        (if (res == null) nulls else res).map(v => Row.fromSeq(r.getLong(0) +: v.toSeq))
      }
    }
    in.sparkSession.createDataFrame(out, StructType(idField +: fields))
  }

  /** [[decodeFrame]] over the payload column, one output row per media:
    * `decoder` maps the payload bytes to the row's values, or null.
    */
  private def decodeEach(media: DataFrame, fields: Seq[StructField])(
      decoder: => Array[Byte] => Row): DataFrame =
    decodeFrame(media.select("media_id", "payload"), fields) {
      val decode = decoder
      r => Option(decode(r.getAs[Array[Byte]](1))).map(Seq(_)).orNull
    }

  /** A fixture as a media table (media_id, payload) over one doc population
    * (doc_id % 3 == `residue`) — generated in place, never shuffled.
    */
  private def encodeEach(docs: DataFrame, residue: Int)(
      encode: Long => Array[Byte]): DataFrame =
    decodeFrame(docs.filter(col("doc_id") % 3 === residue).select("doc_id"),
      Seq(StructField("payload", BinaryType, nullable = false))) { r =>
      Seq(Row(encode(r.getLong(0))))
    }

  /** The one image read: javax.imageio over the payload bytes, null when
    * no reader parses them. NonFatal, not just IOException: ImageIO
    * readers throw runtime exceptions (IllegalArgument,
    * ArrayIndexOutOfBounds, NegativeArraySize) on payloads with a valid
    * magic number but a malformed body — those are corrupt DATA.
    */
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    catch { case NonFatal(_) => null }

  /** [[decodeEach]] over the decoded image; an unreadable payload is the
    * null row. */
  private def decodeImages(media: DataFrame, fields: Seq[StructField])(
      decoder: java.awt.image.BufferedImage => Row): DataFrame =
    decodeEach(media, fields) { p =>
      val img = readImage(p)
      if (img == null) null else decoder(img)
    }

  /** Open `payload` with the first javax.imageio reader that accepts it
    * and hand the reader to `f`; None when no reader does. Reader and
    * stream are released in finally (an unclosed ImageInputStream leaks
    * its disk-cache temp file).
    */
  private def withReader[T](payload: Array[Byte])(
      f: javax.imageio.ImageReader => T): Option[T] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try { reader.setInput(iis); Some(f(reader)) } finally reader.dispose()
      }
    } finally try iis.close() catch { case _: java.io.IOException => () }
  }

  private def openAudio(payload: Array[Byte]): javax.sound.sampled.AudioInputStream =
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))

  /** The one 16-bit PCM read the four signal decoders share: (sample
    * rate, raw frame bytes) of a WAV payload. They all read the frames as
    * 16-bit mono little-endian signed PCM, and a VALID WAV in any other
    * layout (stereo, 8-bit, big-endian, float) would decode into a
    * silently wrong signature rather than fail — so the format is checked
    * up front and a mismatch is null, the corrupt-payload row.
    */
  private def readPcm16(payload: Array[Byte]): (Int, Array[Byte]) = {
    val ais = openAudio(payload)
    val f = ais.getFormat
    if (f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian)
      (f.getSampleRate.toInt, ais.readAllBytes())
    else null
  }

  /** Sample i of 16-bit little-endian PCM bytes. */
  private def sample(pcm: Array[Byte], i: Int): Int =
    ((pcm(2 * i + 1).toInt << 8) | (pcm(2 * i) & 0xff)).toShort

  /** [[decodeEach]] over (sample rate, PCM bytes); a payload that is not
    * 16-bit mono PCM is the null row. */
  private def decodePcm(media: DataFrame, fields: Seq[StructField])(
      decoder: (Int, Array[Byte]) => Row): DataFrame =
    decodeEach(media, fields) { p =>
      val pcm = readPcm16(p)
      if (pcm == null) null else decoder(pcm._1, pcm._2)
    }

  /** Big-endian unsigned integer of `len` bytes at `off`. EBML uints are
    * 0..8 octets (RFC 8794 §7.1); a wider field is malformed and throws
    * rather than wrapping through the Long shift.
    */
  private def beUint(buf: Array[Byte], off: Int, len: Int): Long = {
    require(len <= 8, s"uint of $len octets")
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (buf(off + i) & 0xffL); i += 1 }
    v
  }

  private def be32(buf: Array[Byte], off: Int): Long = beUint(buf, off, 4)

  private def be16(buf: Array[Byte], off: Int): Int = beUint(buf, off, 2).toInt

  /** Synthesize a deterministic media table from `documents`: payload =
    * UTF-8 bytes of the text (stand-in for real image/audio bytes),
    * modality round-robins by doc_id.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      col("source").as("meta_source"))

  /** Deterministic image dimensions for the synthetic PNG payloads — the
    * fixture contract the DuckDB oracle re-derives from doc_id.
    */
  def imageDims(mediaId: Long): (Int, Int) =
    ((4 + mediaId % 16).toInt, (4 + (mediaId / 16) % 16).toInt)

  /** Encode a real PNG for a media id: dims from `imageDims`, deterministic
    * pixel pattern. Runs through javax.imageio — an actual codec, so the
    * decode side exercises a real header parse, not a stub.
    */
  private def encodePng(mediaId: Long): Array[Byte] = {
    val (w, h) = imageDims(mediaId)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = ((x * 31 + y * 7 + mediaId) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic audio parameters for the synthetic WAV payloads — the
    * fixture contract the DuckDB oracle re-derives from doc_id: sample
    * rate cycles four standard PCM rates, frame count spans 64..319.
    */
  def audioParams(mediaId: Long): (Int, Int) =
    (Seq(8000, 11025, 16000, 22050)((mediaId % 4).toInt),
      (64 + mediaId % 256).toInt)

  /** Encode a real WAV (PCM 16-bit mono) for a media id: rate/frames from
    * `audioParams`, a deterministic sine payload. Runs through
    * javax.sound.sampled — an actual audio codec in the JDK, so the decode
    * side exercises a real RIFF/fmt-chunk parse, not a stub.
    */
  private def encodeWav(mediaId: Long): Array[Byte] = {
    val (rate, nFrames) = audioParams(mediaId)
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (math.sin(2 * math.Pi * (220.0 + mediaId % 110) * i / rate) * 12000).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic video parameters for the synthetic multi-frame GIF
    * payloads — the fixture contract the DuckDB oracle re-derives from
    * doc_id: (n_frames 2..8, width 6..15, height 6..15).
    */
  def videoParams(mediaId: Long): (Int, Int, Int) =
    ((2 + mediaId % 7).toInt, (6 + mediaId % 10).toInt, (6 + (mediaId / 10) % 10).toInt)

  /** Encode a real multi-frame (animated) GIF for a media id: frame count
    * and dims from `videoParams`, deterministic per-frame pixel pattern.
    * Runs through javax.imageio's GIF sequence writer — an actual
    * multi-frame container codec in the JDK, so the decode side exercises
    * a real header + frame enumeration, not a stub. (GIF is the one
    * multi-frame format the JDK can both write and read; it stands in for
    * the video container a production pipeline would decode via FFI.)
    */
  private def encodeGif(mediaId: Long): Array[Byte] = {
    val (nFrames, w, h) = videoParams(mediaId)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = ((x * 31 + y * 7 + f * 53 + mediaId) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Media table with REAL payloads for all three modalities: image rows
    * carry a valid PNG (javax.imageio), audio rows a valid WAV
    * (javax.sound.sampled), video rows a valid multi-frame GIF
    * (javax.imageio sequence writer). Narrow: payloads are generated in
    * place, never shuffled.
    */
  def withRealMedia(docs: DataFrame): DataFrame =
    decodeFrame(fromDocuments(docs), mediaSchema.fields.toSeq.tail) { r =>
      val id = r.getLong(0)
      val payload = r.getString(1) match {
        case "image" => encodePng(id)
        case "audio" => encodeWav(id)
        case _ => encodeGif(id)
      }
      Seq(Row(r.getString(1), payload, r.getString(3)))
    }

  /** Decode video (multi-frame GIF) payloads with the real codec: frame
    * count from the reader's frame enumeration, dims from frame 0, through
    * one pooled GIF reader per partition. Non-decodable payloads surface
    * as NULL fields rather than a crash.
    */
  def decodeVideoMeta(media: DataFrame): DataFrame =
    decodeEach(media, fieldsOf("n_frames" -> IntegerType, "width" -> IntegerType,
        "height" -> IntegerType)) {
      lazy val gifReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      p => Option(gifMeta(gifReader, p)).map(Row.fromTuple).orNull
    }

  /** (n_frames, width, height) of a video payload through a caller-POOLED
    * GIF reader (one per partition, like `extractFeatures`' PNG reader):
    * the per-row `getImageReaders` SPI registry scan + reader construction
    * is the residual decode-meta jitter the round-11 pin chased. Anything
    * the GIF codec can't parse falls back to the generic per-row reader,
    * so a foreign-codec payload still decodes; null if none parses it.
    */
  private def gifMeta(reader: javax.imageio.ImageReader,
                      payload: Array[Byte]): (Int, Int, Int) = {
    def meta(r: javax.imageio.ImageReader) =
      (r.getNumImages(true), r.getWidth(0), r.getHeight(0))
    val pooled = try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        // seekForwardOnly must stay FALSE: getNumImages(allowSearch=true)
        // throws IllegalStateException against a forward-only input (the
        // round-12 review caught the PNG pooling's (true, true) pattern
        // copy-pasted here, which made every row fall through to the slow
        // per-row SPI path). ignoreMetadata=true is still safe.
        reader.setInput(iis, false, true)
        meta(reader)
      } finally { reader.setInput(null); iis.close() }
    } catch { case NonFatal(_) => null }
    if (pooled != null) pooled
    else try withReader(payload)(meta).orNull catch { case NonFatal(_) => null }
  }

  /** Decode audio payloads with the real codec (javax.sound.sampled):
    * parses the WAV header for true sample rate / frame count / channels.
    * Non-decodable payloads surface as NULL fields rather than a crash.
    */
  def decodeAudioMeta(media: DataFrame): DataFrame =
    decodeEach(media, fieldsOf("sample_rate" -> IntegerType, "n_frames" -> LongType,
        "channels" -> IntegerType)) { p =>
      val ais = openAudio(p)
      val f = ais.getFormat
      Row(f.getSampleRate.toInt, ais.getFrameLength, f.getChannels)
    }

  /** Decode image payloads with the real codec (javax.imageio): parses the
    * PNG header/IDAT for true width × height. Non-decodable payloads
    * surface as NULL dims rather than a crash (a 100 TB corpus always
    * contains corrupt files).
    */
  def decodeImageDims(media: DataFrame): DataFrame =
    decodeImages(media, fieldsOf("width" -> IntegerType, "height" -> IntegerType)) { img =>
      Row(img.getWidth, img.getHeight)
    }

  /** The 6×10-grid mean-threshold hash of one decoded frame — shared by
    * the image and video tiers so the two modalities can never drift.
    */
  private def gridAHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth.toLong
    val h = img.getHeight.toLong
    val g = new Array[Long](60)
    var j = 0
    var gy = 0
    while (gy < 10) {
      var gx = 0
      while (gx < 6) {
        val x = ((gx * w) / 6).toInt
        val y = ((gy * h) / 10).toInt
        g(j) = (img.getRGB(x, y) & 0xff).toLong
        j += 1; gx += 1
      }
      gy += 1
    }
    val tot = g.sum
    var hash = 0L
    j = 0
    while (j < 60) {
      if (60L * g(j) > tot) hash |= 1L << j
      j += 1
    }
    hash
  }

  /** Orthonormal DCT-II basis b(u)(x) = α(u)·cos((2x+1)uπ/16), computed
    * ONCE driver-side: the Spark hash folds these exact doubles, and the
    * oracle receives the same values as shortest-decimal literals — so
    * cos() never runs inside either engine and there is no libm hazard.
    */
  val dctBasis: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val a = if (u == 0) math.sqrt(1.0 / 8.0) else math.sqrt(2.0 / 8.0)
    a * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** The 15 low-frequency (u, v) pairs of the 4×4 DCT block minus the DC
    * term, with bit index k = v·4 + u − 1 — shared with the oracle.
    */
  val phashPairs: Seq[(Int, Int, Int)] =
    for (v <- 0 to 3; u <- 0 to 3 if !(u == 0 && v == 0))
      yield (u, v, v * 4 + u - 1)

  /** DCT low-frequency perceptual hash (the pHash family, miniature:
    * 8×8 gray grid → 8×8 DCT-II → 4×4 low block minus DC → median
    * threshold → 15 bits). Robust to uniform brightness AND contrast
    * changes (both shift/scale every low-frequency coefficient together,
    * and the median moves with them), where aHash only survives
    * brightness. Deterministic: integer grid, fixed-order double folds
    * against the driver-computed basis, median = the 8th smallest
    * coefficient, strict > at the threshold.
    */
  private[graft] def gridPHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth.toLong
    val h = img.getHeight.toLong
    val g = new Array[Double](64)
    var j = 0
    while (j < 64) {
      val gx = j % 8
      val gy = j / 8
      val x = ((gx * w) / 8).toInt
      val y = ((gy * h) / 8).toInt
      g(j) = (img.getRGB(x, y) & 0xff).toDouble
      j += 1
    }
    // stab(6) collapses summation-tree noise (DuckDB's list_sum is not a
    // strict left fold) BEFORE the median/threshold comparisons — the
    // same reason every cosine in the repo is stab'd
    val coefs = phashPairs.map { case (u, v, _) =>
      var acc = 0.0
      var jj = 0
      while (jj < 64) {
        acc += (g(jj) * dctBasis(u)(jj % 8)) * dctBasis(v)(jj / 8)
        jj += 1
      }
      graft.functions.Stable.stab6(acc)
    }.toArray
    val sorted = coefs.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(7)
    var hash = 0L
    phashPairs.zipWithIndex.foreach { case ((_, _, k), i) =>
      if (coefs(i) > med) hash |= 1L << k
    }
    hash
  }

  def decodeImagePHash(media: DataFrame): DataFrame =
    decodeImages(media, fieldsOf("phash" -> LongType))(img => Row(gridPHash(img)))

  /** The sign fingerprint over PCM samples `idx`, first index in the
    * highest bit: bit set iff the sample is strictly positive. Null when
    * the clip ends before the last index.
    */
  private def signFp(pcm: Array[Byte], idx: Seq[Int]): Row =
    if (idx.exists(_ >= pcm.length / 2)) null
    else Row(idx.foldLeft(0L)((bits, i) => (bits << 1) | (if (sample(pcm, i) > 0) 1L else 0L)))

  /** 60-bit PCM sign fingerprint from REAL audio decode: bit i (of
    * samples 1..60) is set iff the decoded 16-bit sample is strictly
    * positive. The sign structure of a waveform is its coarsest
    * content signature — amplitude-invariant (any gain > 0 preserves
    * it), and two clips whose rate-normalized pitch is close differ in
    * only a few sign bits, so the fingerprint drops straight into the
    * `Dedup.hammingPairs` pigeonhole join for near-dup blocking. The
    * fixture's synthesis contract makes each bit EXACTLY re-derivable
    * by integer arithmetic — sign(sin(2π·f·i/rate)) is decided by
    * (f·i) mod rate vs rate/2, with |sin|·12000 ≥ 3.4 whenever the
    * residue is nonzero — so the oracle replays the fingerprint with
    * no floating point at all (MultimodalQueries.audioFpCte).
    */
  def decodeAudioSignFp(media: DataFrame): DataFrame =
    decodePcm(media, fieldsOf("fp" -> LongType))((_, pcm) => signFp(pcm, 1 to 60))

  /** ABSOLUTE-pitch variant of the sign fingerprint: the PCM is first
    * nearest-neighbor resampled to a common 22050 Hz grid (src index
    * (i·rate)/22050, integer division — still pure integer arithmetic
    * for the oracle), so bit i traces sin's sign at a fixed WALL-CLOCK
    * instant instead of a fixed sample ordinal. Two clips with the same
    * frequency at DIFFERENT sample rates now collide (the rate-relative
    * tier's documented blind spot, SURVEY §2.9); truncation of the
    * source index flips only bits near crossings, which the hamming-2
    * verify absorbs.
    */
  def decodeAudioSignFpCommon(media: DataFrame,
                              commonRate: Int = 22050): DataFrame =
    decodePcm(media, fieldsOf("fp" -> LongType)) { (rate, pcm) =>
      signFp(pcm, (1 to 60).map(i => (i.toLong * rate / commonRate).toInt))
    }

  /** Zero-crossing-rate pitch estimate over the FULL decoded PCM stream
    * (the sign fingerprint reads 60 samples; this walks every frame):
    * zcr counts strict sign flips between consecutive samples, and
    * pitch ≈ zcr·rate / (2·(n−1)) — the classic time-domain pitch
    * detector. Same exactness argument as the fingerprint: each
    * sample's sign is decided by an integer residue, so the oracle
    * replays zcr and the rounded pitch with no trig; meanwhile Spark
    * derives them from the REAL decoded bytes, so a codec bug anywhere
    * in the stream (not just the head) hash-fails.
    */
  def decodeAudioZcr(media: DataFrame): DataFrame =
    decodePcm(media, fieldsOf("n_frames" -> LongType, "zcr" -> LongType,
        "pitch_hz" -> LongType)) { (rate, pcm) =>
      val n = pcm.length / 2
      var zcr = 0L
      var prev = 0
      var i = 0
      while (i < n) {
        val s = sample(pcm, i)
        if (prev * s < 0) zcr += 1
        prev = s
        i += 1
      }
      Row(n.toLong, zcr, math.floor(zcr.toDouble * rate / (2.0 * (n - 1)) + 0.5).toLong)
    }

  // ==================== SPECTRAL AUDIO TIER (round 15) ====================

  /** Integer-DFT window / bin-count / resample-grid constants for the
    * spectral fingerprint. 256 samples on the 22050 Hz common grid give
    * 86.1 Hz bins; bins 1..24 span 86-2067 Hz — the fundamental AND the
    * discriminating 3rd harmonic of every fixture frequency.
    */
  val SpecWindow = 256
  val SpecBins = 24
  val SpecCommonRate = 22050
  val SpecShift = 524288L // 2^19 post-sum down-shift; keeps E = R^2+I^2 in BIGINT

  /** Shared 256-entry cosine table for the fixed-point DFT:
    * specCos(j) = round(2^14 * cos(2*pi*j/256)). Computed ONCE here from
    * libm and baked VERBATIM into the DuckDB oracle as literals
    * (MultimodalQueries.spectralCtab), so both engines fold identical
    * integers — the transform is integer-exact by construction, closing
    * SURVEY §2.9's "no FFT in the oracle's integer-exact reach" with a
    * fixed-point DFT instead of a float FFT. sin rides the same table by
    * the quarter-period shift: sin(2*pi*j/256) = cos(2*pi*(j+192)/256).
    */
  lazy val specCos: Array[Long] = Array.tabulate(SpecWindow)(j =>
    Math.round(16384.0 * Math.cos(2 * Math.PI * j / SpecWindow)))

  /** Synthesis contract of the SPECTRAL fixture (one clip per audio
    * doc_id, id1 = doc_id/3, g = id1%12): frequency 220/392/564 Hz by
    * g%3 — spaced >= 2 DFT bins so distinct fundamentals never alias —
    * waveform TRIANGLE (g/3 even) or SQUARE (odd), rate 11025/22050 by
    * g/6, n = 256+id1%64 frames. tri and sq at the same (f, rate) have
    * IDENTICAL sample signs everywhere (both are sign(t) of the same
    * integer triangle phase; sq is 12000*sign(t), tri is
    * floorDiv(12000*t, rate) whose sign matches since the fixture's
    * nonzero |t| stays above rate/12000) — the planted equal-sign /
    * different-spectrum blind spot the sign tiers provably cannot see
    * and this tier exists to catch: tri falls off 1/k^2 in harmonics,
    * sq 1/k, so band energies differ at 3f.
    */
  def spectralParams(mediaId: Long): (Int, Boolean, Int, Int) = {
    val id1 = mediaId / 3
    val g = (id1 % 12).toInt
    (Seq(220, 392, 564)(g % 3), (g / 3) % 2 == 1,
      if ((g / 6) % 2 == 0) 11025 else 22050, (256 + id1 % 64).toInt)
  }

  /** Integer-exact sample i of a spectral-fixture clip: t is the integer
    * triangle |((4*f*i) mod 4r) - 2r| - r in [-r, r]; triangle clips scale
    * it to amplitude 12000 by floor division, squares take 12000*sign(t).
    */
  def spectralSample(f: Int, i: Int, rate: Int, sq: Boolean): Int = {
    val m = (4L * f * i) % (4L * rate)
    val t = Math.abs(m - 2L * rate) - rate
    val v = if (sq) 12000L * rate * java.lang.Long.signum(t) else 12000L * t
    Math.floorDiv(v, rate.toLong).toInt
  }

  private def encodeWavSpectral(mediaId: Long): Array[Byte] = {
    val (f, sq, rate, n) = spectralParams(mediaId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = spectralSample(f, i, rate, sq)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The spectral fixture as a real-WAV media table (media_id, payload)
    * over the audio doc population — same narrow generate-in-place shape
    * as withRealMedia.
    */
  def withSpectralMedia(docs: DataFrame): DataFrame =
    encodeEach(docs, 1)(encodeWavSpectral)

  /** Spectral fingerprint from REAL audio decode — the production
    * technique the sign tiers approximate (Chromaprint/Shazam family,
    * in fixed point): decode PCM, nearest-neighbor resample SpecWindow
    * samples onto the common 22050 Hz grid (the abs tier's integer index
    * map), then a fixed-point DFT with the shared specCos table:
    * R_k = floorDiv(sum_i y_i*cos[(k*i)%256], 2^19), I_k likewise with
    * the +192 quarter shift, E_k = R^2 + I^2. Every step is integer
    * arithmetic both engines replay exactly. Outputs per clip:
    *   fp   — 24 bits, bit k set iff 16*E_k > max(E) (significant-band
    *          profile; max-relative so it is gain- and length-robust),
    *   dom  — dominant bin (argmax E, ties to the lower bin),
    *   prof — the normalized integer energy profile (E_k*1024)/sum(E),
    *          space-joined: the exact-verify feature for the pair stage.
    * Null row when the payload is corrupt, non-PCM16LE-mono, or too
    * short for the resample window (src index past the clip).
    */
  def decodeAudioSpectral(media: DataFrame): DataFrame = {
    val w = SpecWindow
    val nb = SpecBins
    val common = SpecCommonRate
    val shiftD = SpecShift
    val ctab = specCos
    decodePcm(media, fieldsOf("fp" -> LongType, "dom" -> LongType,
        "prof" -> StringType)) { (rate, pcm) =>
      if (((w - 1).toLong * rate / common).toInt >= pcm.length / 2) null
      else {
        val y = Array.tabulate(w)(i => sample(pcm, (i.toLong * rate / common).toInt).toLong)
        val e = new Array[Long](nb)
        var k = 1
        while (k <= nb) {
          var re = 0L
          var im = 0L
          var j = 0
          while (j < w) {
            val y_j = y(j)
            re += y_j * ctab((k * j) % 256)
            im += y_j * ctab((k * j + 192) % 256)
            j += 1
          }
          val rq = Math.floorDiv(re, shiftD)
          val iq = Math.floorDiv(im, shiftD)
          e(k - 1) = rq * rq + iq * iq
          // contract bound: keeps prof's e*1024 far inside Long and
          // the oracle's HUGEINT path value-identical
          require(e(k - 1) < (1L << 40),
            s"spectral energy out of contract bound: ${e(k - 1)}")
          k += 1
        }
        val mx = e.max
        val tot = e.sum
        var fp = 0L
        var dom = -1
        var kk = 0
        while (kk < nb) {
          if (16L * e(kk) > mx) fp |= 1L << kk
          if (dom < 0 && e(kk) == mx) dom = kk + 1
          kk += 1
        }
        Row(fp, dom.toLong, e.map(x => (x * 1024L) / tot).mkString(" "))
      }
    }
  }

  /** Spectral near-dup pairs: `Dedup.hammingPairs` over the 24-bit
    * significant-band fingerprint (hamming <= 1 — each clip emits 25
    * one-bit-flip equi-join keys), then the EXACT verify on the
    * normalized energy profiles: L1 distance <= maxL1. The fixture's
    * measured margins (BASELINE.md): same-content cross-rate pairs sit at
    * hamming <= 1 / L1 <= 100; the planted equal-sign tri-vs-sq partners
    * at hamming >= 2 / L1 >= 184; distinct fundamentals at L1 >= 1500.
    */
  def spectralPairs(sp: DataFrame, maxL1: Long = 160): DataFrame = {
    // the join's distinct dedupes candidates BEFORE the profile verify:
    // two clips within hamming 1 share up to 25 of their flip keys, and
    // evaluating the interpreted 24-element L1 fold per DUPLICATE (not
    // per pair) was a measured 25x blowup (112 s → 4 s at sf0.1). The key
    // join carries only (id, fp); profiles join once per surviving pair.
    val cand = Dedup.hammingPairs(sp, "media_id", "fp", SpecBins, 1)
    val prof = sp.filter(col("fp").isNotNull).select(col("media_id"),
      transform(split(col("prof"), " "), x => x.cast("long")).as("pv"))
    cand
      .join(prof.as("pa"), col("doc_a") === col("pa.media_id"))
      .join(prof.as("pb"), col("doc_b") === col("pb.media_id"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        aggregate(zip_with(col("pa.pv"), col("pb.pv"), (x, y) => abs(x - y)),
          lit(0L), (acc, x) => acc + x).as("l1"))
      .filter(col("l1") <= maxL1)
  }

  // ===================== MP4 METADATA TIER (round 15) =====================

  /** Synthesis contract of the mp4 fixture (video doc population):
    * timescale 600·(1+id%4), duration timescale·(1+id%30) ticks,
    * 1+id%3 tracks, dims (160+16·(id%20)) × (120+16·((id/20)%20)).
    * The payload is a MINIMAL VALID mp4 box tree — ftyp, a free box of
    * id-dependent size, then moov(mvhd, free, trak(tkhd)×n) — all
    * big-endian integer fields per ISO/IEC 14496-12. The free boxes make
    * every interesting field sit at an id-DEPENDENT offset, so only a
    * real size-driven box walk (not a fixed-offset peek) can decode it.
    * Full A/V decode needs an FFI codec this container doesn't ship
    * (SURVEY §2.9); the metadata walk is pure integer byte parsing and
    * therefore oracle-able.
    */
  def mp4Params(mediaId: Long): (Int, Int, Int, Int, Int) = {
    val ts = (600 * (1 + mediaId % 4)).toInt
    val dur = (ts * (1 + mediaId % 30)).toInt
    ((ts), dur, (1 + mediaId % 3).toInt,
      (160 + 16 * (mediaId % 20)).toInt, (120 + 16 * ((mediaId / 20) % 20)).toInt)
  }

  /** Per-track contract shared by BOTH container fixtures (round 16):
    * odd track positions are VIDEO (track 1 always — the whole-file dims
    * queries stay well-defined), even positions AUDIO; codec, channel
    * count, and sample rate are id formulas the oracle re-derives.
    * Returns (isAudio, fourcc, channels, sampleRate) — the webm twin
    * maps the fourcc through `webmCodecId`.
    */
  def mp4TrackParams(mediaId: Long, t: Int): (Boolean, String, Int, Int) = {
    val isAudio = t % 2 == 0
    val codec =
      if (isAudio) Seq("mp4a", "Opus")(((mediaId / 7 + t) % 2).toInt)
      else Seq("avc1", "hev1", "av01")(((mediaId / 3 + t) % 3).toInt)
    (isAudio, codec,
      (1 + (mediaId + t) % 2).toInt,
      Seq(8000, 16000, 22050, 44100, 48000)(((mediaId / 5 + t) % 5).toInt))
  }

  /** The Matroska CodecID for the same track slot — same selector
    * formulas, Matroska namespace strings.
    */
  def webmCodecId(mediaId: Long, t: Int): String =
    if (t % 2 == 0) Seq("A_OPUS", "A_VORBIS")(((mediaId / 7 + t) % 2).toInt)
    else Seq("V_VP8", "V_VP9", "V_AV1")(((mediaId / 3 + t) % 3).toInt)

  private def encodeMp4(mediaId: Long): Array[Byte] = {
    val (ts, dur, nTracks, w, h) = mp4Params(mediaId)
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    def box(typ: String, payload: Array[Byte]): Unit = {
      o.writeInt(8 + payload.length)
      o.writeBytes(typ)
      o.write(payload)
    }
    def payload(body: java.io.DataOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(b)
      body(d)
      b.toByteArray
    }
    val identityMatrix = payload { d =>
      d.writeInt(0x00010000); d.writeInt(0); d.writeInt(0)
      d.writeInt(0); d.writeInt(0x00010000); d.writeInt(0)
      d.writeInt(0); d.writeInt(0); d.writeInt(0x40000000)
    }
    box("ftyp", payload { d =>
      d.writeBytes("isom"); d.writeInt(0x200); d.writeBytes("isom")
    })
    box("free", new Array[Byte]((mediaId % 32).toInt))
    val mvhd = payload { d =>
      d.writeInt(0) // version 0 + flags
      d.writeInt(0); d.writeInt(0) // ctime, mtime
      d.writeInt(ts); d.writeInt(dur)
      d.writeInt(0x00010000) // rate 1.0
      d.writeShort(0x0100); d.writeShort(0) // volume, reserved
      d.writeLong(0L) // reserved
      d.write(identityMatrix)
      (1 to 6).foreach(_ => d.writeInt(0)) // pre_defined
      d.writeInt(nTracks + 1) // next_track_ID
    }
    val traks = (1 to nTracks).map { t =>
      payload { d =>
        val tkhd = payload { td =>
          td.writeInt(7) // version 0, flags enabled|in_movie|in_preview
          td.writeInt(0); td.writeInt(0) // ctime, mtime
          td.writeInt(t) // track_ID
          td.writeInt(0) // reserved
          td.writeInt(dur)
          td.writeLong(0L) // reserved
          td.writeShort(0); td.writeShort(0) // layer, alternate_group
          td.writeShort(0); td.writeShort(0) // volume, reserved
          td.write(identityMatrix)
          td.writeInt(w << 16); td.writeInt(h << 16) // 16.16 fixed
        }
        d.writeInt(8 + tkhd.length); d.writeBytes("tkhd"); d.write(tkhd)
        // round 16: per-track media box — handler type (mdia/hdlr) and
        // codec sample entry (minf/stbl/stsd) per mp4TrackParams; an
        // id-dependent free box inside minf keeps offsets id-dependent
        val (isAudio, codec, ch, rate) = mp4TrackParams(mediaId, t)
        val hdlr = payload { hd =>
          hd.writeInt(0) // version/flags
          hd.writeInt(0) // pre_defined
          hd.writeBytes(if (isAudio) "soun" else "vide")
          hd.writeInt(0); hd.writeInt(0); hd.writeInt(0) // reserved
          hd.writeByte(0) // empty name
        }
        val stsd = payload { sd =>
          sd.writeInt(0) // version/flags
          sd.writeInt(1) // entry_count
          val entry =
            if (isAudio) payload { e => // AudioSampleEntry, 14496-12 §12.2.3
              e.write(new Array[Byte](6)); e.writeShort(1) // reserved, dri
              e.writeLong(0L) // reserved
              e.writeShort(ch); e.writeShort(16) // channelcount, samplesize
              e.writeInt(0) // pre_defined + reserved
              e.writeInt(rate << 16) // samplerate 16.16
            }
            else payload { e => // VisualSampleEntry, 14496-12 §12.1.3
              e.write(new Array[Byte](6)); e.writeShort(1) // reserved, dri
              e.write(new Array[Byte](16)) // pre_defined/reserved
              e.writeShort(w); e.writeShort(h)
              e.writeInt(0x00480000); e.writeInt(0x00480000) // 72 dpi
              e.writeInt(0) // reserved
              e.writeShort(1) // frame_count
              e.write(new Array[Byte](32)) // compressorname
              e.writeShort(24); e.writeShort(-1) // depth, pre_defined
            }
          sd.writeInt(8 + entry.length); sd.writeBytes(codec); sd.write(entry)
        }
        val stbl = payload { sb =>
          sb.writeInt(8 + stsd.length); sb.writeBytes("stsd"); sb.write(stsd)
        }
        val minf = payload { mf =>
          val innerFree = new Array[Byte](((mediaId / 16) % 20).toInt)
          mf.writeInt(8 + innerFree.length); mf.writeBytes("free"); mf.write(innerFree)
          mf.writeInt(8 + stbl.length); mf.writeBytes("stbl"); mf.write(stbl)
        }
        val mdia = payload { md =>
          md.writeInt(8 + hdlr.length); md.writeBytes("hdlr"); md.write(hdlr)
          md.writeInt(8 + minf.length); md.writeBytes("minf"); md.write(minf)
        }
        d.writeInt(8 + mdia.length); d.writeBytes("mdia"); d.write(mdia)
      }
    }
    val moov = payload { d =>
      d.writeInt(8 + mvhd.length); d.writeBytes("mvhd"); d.write(mvhd)
      val innerFree = new Array[Byte](((mediaId / 32) % 24).toInt)
      d.writeInt(8 + innerFree.length); d.writeBytes("free"); d.write(innerFree)
      traks.foreach { tk =>
        d.writeInt(8 + tk.length); d.writeBytes("trak"); d.write(tk)
      }
    }
    box("moov", moov)
    bos.toByteArray
  }

  /** The mp4 fixture as a media table (media_id, payload) over the video
    * doc population — generate-in-place, never shuffled.
    */
  def withMp4Media(docs: DataFrame): DataFrame = encodeEach(docs, 2)(encodeMp4)

  /** The one ISO-BMFF box walk (ISO/IEC 14496-12 §4.2) over
    * buf[start, end): each box's 32-bit big-endian size and fourcc are
    * read and checked — a truncated header, size < 8, or a box past its
    * parent throws, the decode frame's null row — then
    * `visit(type, offset, size, parent type)` sees the box, and boxes of a
    * `containers` type are walked into.
    */
  private def walkBoxes(buf: Array[Byte], start: Int, end: Int, parent: String,
                        containers: Set[String])(
      visit: (String, Int, Int, String) => Unit): Unit = {
    var off = start
    while (off < end) {
      require(off + 8 <= end, "truncated box header")
      val size = be32(buf, off)
      require(size >= 8 && off + size <= end, s"box size $size at $off")
      val typ = new String(buf, off + 4, 4, "US-ASCII")
      visit(typ, off, size.toInt, parent)
      if (containers(typ)) walkBoxes(buf, off + 8, off + size.toInt, typ, containers)(visit)
      off += size.toInt
    }
  }

  /** mp4 metadata via a REAL size-driven box walk: top-level boxes are
    * enumerated by their 32-bit big-endian size fields, container boxes
    * (moov, trak) recurse, mvhd yields timescale/duration, each tkhd
    * counts a track and contributes its 16.16 dims (max across tracks).
    * Malformed trees (size < 8, box past its parent, truncated header,
    * or no mvhd) surface as the null row — corrupt files are data.
    */
  def decodeMp4Meta(media: DataFrame): DataFrame =
    decodeEach(media, fieldsOf("timescale" -> IntegerType, "duration" -> IntegerType,
        "n_tracks" -> IntegerType, "width" -> IntegerType, "height" -> IntegerType)) { buf =>
      var ts, dur = -1L
      var nTracks = 0
      var w, h = 0L
      walkBoxes(buf, 0, buf.length, "", Set("moov", "trak")) { (typ, off, size, _) =>
        typ match {
          case "mvhd" if size >= 8 + 24 =>
            ts = be32(buf, off + 20); dur = be32(buf, off + 24)
          case "tkhd" if size >= 8 + 84 =>
            nTracks += 1
            w = math.max(w, be32(buf, off + 84) >> 16)
            h = math.max(h, be32(buf, off + 88) >> 16)
          case _ => ()
        }
      }
      if (ts < 0) null else Row(ts.toInt, dur.toInt, nTracks, w.toInt, h.toInt)
    }

  /** Per-TRACK mp4 metadata (round 16) — what a curation pipeline
    * filters on before spending decode: handler type from mdia/hdlr,
    * codec fourcc from the first stsd sample entry, audio channel
    * count / 16.16 sample rate from the AudioSampleEntry, video dims
    * from the VisualSampleEntry (per 14496-12 §8.4.3 / §12.1–12.2).
    * One output row per trak; a malformed tree yields the single null
    * row — corrupt files are data.
    */
  def decodeMp4Tracks(media: DataFrame): DataFrame =
    decodeFrame(media.select("media_id", "payload"), fieldsOf("track_id" -> IntegerType,
        "handler" -> StringType, "codec" -> StringType, "channels" -> IntegerType,
        "sample_rate" -> IntegerType, "width" -> IntegerType, "height" -> IntegerType)) { r =>
      val buf = r.getAs[Array[Byte]](1)
      val containers = Set("moov", "mdia", "minf", "stbl")
      val tracks = scala.collection.mutable.ArrayBuffer.empty[Row]
      // per-trak working state; the first stsd entry's offset/size are
      // BUFFERED and resolved after the trak walk completes — ISO BMFF
      // does not mandate hdlr-before-minf box order, so audio/video
      // fields must not depend on having seen the handler first
      var trkId = -1
      var handler: String = null
      var codec: String = null
      var entryOff, entrySz = -1
      def visit(typ: String, off: Int, size: Int, parent: String): Unit = typ match {
        case "trak" =>
          trkId = -1; handler = null; codec = null; entryOff = -1; entrySz = -1
          walkBoxes(buf, off + 8, off + size, typ, containers)(visit)
          // resolve the buffered sample entry now that the whole trak
          // (hdlr included, wherever it sat) has been walked
          val soun = entryOff >= 0 && handler == "soun" && entrySz >= 36
          val vide = entryOff >= 0 && handler == "vide" && entrySz >= 36
          tracks += Row(trkId, handler, codec,
            if (soun) be16(buf, entryOff + 24) else null,
            if (soun) (be32(buf, entryOff + 32) >> 16).toInt else null,
            if (vide) be16(buf, entryOff + 32) else null,
            if (vide) be16(buf, entryOff + 34) else null)
        case "tkhd" if size >= 8 + 16 =>
          trkId = be32(buf, off + 20).toInt
        case "hdlr" if parent == "mdia" && size >= 8 + 12 =>
          handler = new String(buf, off + 16, 4, "US-ASCII")
        case "stsd" if size >= 8 + 16 =>
          // verflags(4) count(4), then the first sample entry
          val e = off + 16
          val esz = be32(buf, e)
          require(esz >= 16 && e + esz <= off + size, s"stsd entry size $esz")
          codec = new String(buf, e + 4, 4, "US-ASCII")
          entryOff = e; entrySz = esz.toInt
        case _ => ()
      }
      walkBoxes(buf, 0, buf.length, "", containers)(visit)
      if (tracks.isEmpty) null else tracks.toSeq
    }

  // ==================== WEBM/EBML METADATA TIER (round 15) ====================

  /** Synthesis contract of the webm fixture (video doc population, the
    * mp4 fixture's sibling — the other half of §2.9's "real corpora are
    * mp4/webm"): TimestampScale 100000·(1+id%5) ns, Duration
    * 1000·(1+id%25) ticks (written as an IEEE-754 float64 with an
    * integral value — the Matroska Duration element IS a float),
    * 1+(id/5)%3 tracks, dims (320+8·(id%40)) × (240+8·((id/40)%25)).
    * The payload is a minimal VALID EBML tree per RFC 8794 / the
    * Matroska spec — EBMLHeader(DocType "webm"), Segment(Void,
    * Info(TimestampScale, Duration), Tracks(TrackEntry(TrackNumber,
    * TrackType, Void, Video(PixelWidth, PixelHeight))×n)) — with two
    * deliberate parser-forcing devices: Void elements of id-dependent
    * size shift every field to an id-dependent offset (the mp4 free-box
    * trick), and size VINTs are written at id-dependent WIDTHS (minimal
    * or one byte wider), so only a parser that truly decodes the
    * variable-length-integer marker bits — EBML's defining wire
    * feature, and what makes this tier a different parse from the
    * fixed-width ISO-BMFF walk — can track element boundaries.
    */
  def webmParams(mediaId: Long): (Int, Int, Int, Int, Int) = {
    ((100000 * (1 + mediaId % 5)).toInt, (1000 * (1 + mediaId % 25)).toInt,
      (1 + (mediaId / 5) % 3).toInt,
      (320 + 8 * (mediaId % 40)).toInt, (240 + 8 * ((mediaId / 40) % 25)).toInt)
  }

  /** VINT with an explicit width: marker bit in the first byte, value
    * big-endian below it. width must fit the value (< 2^(7·width) − 1).
    */
  private def vint(v: Long, width: Int): Array[Byte] = {
    require(width >= 1 && width <= 8 && v >= 0 && v < (1L << (7 * width)) - 1,
      s"vint width $width cannot carry $v")
    val out = new Array[Byte](width)
    var x = v | (1L << (7 * width)) // the marker bit
    var i = width - 1
    while (i >= 0) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    out
  }

  private def encodeWebm(mediaId: Long): Array[Byte] = {
    val (tsScale, dur, nTracks, w, h) = webmParams(mediaId)
    // size VINTs one byte wider than minimal when the id says so — the
    // device that forces real marker-bit decoding
    val pad = (mediaId % 2).toInt
    def minWidth(v: Long): Int = {
      var k = 1
      while (v >= (1L << (7 * k)) - 1) k += 1
      k
    }
    def el(idBytes: Array[Byte], payload: Array[Byte]): Array[Byte] =
      idBytes ++ vint(payload.length.toLong, minWidth(payload.length.toLong) + pad) ++ payload
    def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    def uintBytes(v: Long): Array[Byte] = {
      var k = 1
      while (k < 8 && (v >> (8 * k)) != 0) k += 1
      Array.tabulate(k)(i => ((v >> (8 * (k - 1 - i))) & 0xff).toByte)
    }
    def f64(v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      Array.tabulate(8)(i => ((bits >> (8 * (7 - i))) & 0xff).toByte)
    }
    val header = el(id(0x1a, 0x45, 0xdf, 0xa3),
      el(id(0x42, 0x86), uintBytes(1)) ++          // EBMLVersion
        el(id(0x42, 0x82), "webm".getBytes("US-ASCII")) ++ // DocType
        el(id(0x42, 0x87), uintBytes(4)))          // DocTypeVersion
    val info = el(id(0x15, 0x49, 0xa9, 0x66),
      el(id(0x2a, 0xd7, 0xb1), uintBytes(tsScale.toLong)) ++
        el(id(0x44, 0x89), f64(dur.toDouble)))
    val tracks = el(id(0x16, 0x54, 0xae, 0x6b),
      (1 to nTracks).map { t =>
        // round 16: even slots are AUDIO tracks (TrackType 2, Audio
        // element with SamplingFrequency float + Channels uint), odd
        // slots VIDEO as before; every track carries a CodecID string
        val (isAudio, _, ch, rate) = mp4TrackParams(mediaId, t)
        val media =
          if (isAudio)
            el(id(0xe1),                            // Audio
              el(id(0xb5), f64(rate.toDouble)) ++   // SamplingFrequency
                el(id(0x9f), uintBytes(ch.toLong))) // Channels
          else
            el(id(0xe0),                            // Video
              el(id(0xb0), uintBytes(w.toLong)) ++
                el(id(0xba), uintBytes(h.toLong)))
        el(id(0xae),
          el(id(0xd7), uintBytes(t.toLong)) ++      // TrackNumber
            el(id(0x83), uintBytes(if (isAudio) 2L else 1L)) ++ // TrackType
            el(id(0x86), webmCodecId(mediaId, t).getBytes("US-ASCII")) ++ // CodecID
            el(id(0xec), new Array[Byte](((mediaId / 2) % 24).toInt)) ++ // Void
            media)
      }.reduce(_ ++ _))
    val segment = el(id(0x18, 0x53, 0x80, 0x67),
      el(id(0xec), new Array[Byte]((mediaId % 32).toInt)) ++ // Void
        info ++ tracks)
    header ++ segment
  }

  /** The webm fixture as a media table (media_id, payload) over the
    * video doc population — generate-in-place, never shuffled.
    */
  def withWebmMedia(docs: DataFrame): DataFrame = encodeEach(docs, 2)(encodeWebm)

  /** EBML VINT at `off` as (value, next offset). For IDs the marker bit
    * is KEPT (EBML ids are compared with it, per RFC 8794 §5); for sizes
    * it is STRIPPED. An all-zero lead byte or a VINT running past `end`
    * throws.
    */
  private def readVint(buf: Array[Byte], off: Int, end: Int,
                       keepMarker: Boolean): (Long, Int) = {
    require(off < end, "VINT past its parent")
    val b0 = buf(off) & 0xff
    require(b0 != 0, "zero VINT lead byte")
    val width = java.lang.Integer.numberOfLeadingZeros(b0) - 23 // 1..8
    require(off + width <= end, "VINT past its parent")
    val lead = if (keepMarker) b0.toLong else b0.toLong & ((0x80 >> (width - 1)) - 1)
    ((lead << (8 * (width - 1))) | beUint(buf, off + 1, width - 1), off + width)
  }

  /** An EBML float element: IEEE-754 float32 or float64, per the spec. */
  private def ebmlFloat(buf: Array[Byte], off: Int, len: Int): Double =
    if (len == 8) java.lang.Double.longBitsToDouble(beUint(buf, off, 8))
    else {
      require(len == 4, s"float of $len octets")
      java.lang.Float.intBitsToFloat(beUint(buf, off, 4).toInt).toDouble
    }

  /** The one EBML element walk (RFC 8794) over buf[start, end): each
    * element's ID and size VINTs are decoded and checked — a bad VINT,
    * an element past its parent, or a size beyond Int throws, the decode
    * frame's null row — then `visit(id, payload offset, size)` sees the
    * element, and elements whose ID is in `containers` are walked into.
    */
  private def walkEbml(buf: Array[Byte], start: Int, end: Int, containers: Set[Long])(
      visit: (Long, Int, Int) => Unit): Unit = {
    var off = start
    while (off < end) {
      val (eid, o1) = readVint(buf, off, end, keepMarker = true)
      val (sz, o2) = readVint(buf, o1, end, keepMarker = false)
      require(o2 + sz <= end && sz <= Int.MaxValue, s"element size $sz at $o2")
      visit(eid, o2, sz.toInt)
      if (containers(eid)) walkEbml(buf, o2, o2 + sz.toInt, containers)(visit)
      off = o2 + sz.toInt
    }
  }

  /** webm metadata via a REAL EBML walk: element IDs read by their
    * leading-zero-determined width (raw bytes kept, per RFC 8794), sizes
    * decoded as marker-stripped VINTs of ANY width, containers (Segment,
    * Info, Tracks, TrackEntry, Video) recursed, TimestampScale /
    * PixelWidth / PixelHeight read as big-endian uints, Duration as an
    * IEEE-754 float32/float64 truncated to ticks. Malformed trees
    * (truncated VINT, element past its parent, an all-zero ID/size
    * byte, no Info) surface as the null row — corrupt files are data.
    */
  def decodeWebmMeta(media: DataFrame): DataFrame =
    decodeEach(media, fieldsOf("timescale" -> IntegerType, "duration" -> IntegerType,
        "n_tracks" -> IntegerType, "width" -> IntegerType, "height" -> IntegerType)) { buf =>
      var ts, dur = -1L
      var nTracks = 0
      var w, h = 0L
      var sawInfo = false
      // Segment / Tracks / TrackEntry / Video / Info
      walkEbml(buf, 0, buf.length,
          Set(0x18538067L, 0x1654AE6BL, 0xAEL, 0xE0L, 0x1549A966L)) { (eid, o, sz) =>
        eid match {
          case 0xAEL => nTracks += 1 // TrackEntry
          case 0x1549A966L => sawInfo = true // Info
          case 0x2AD7B1L => ts = beUint(buf, o, sz) // TimestampScale
          case 0x4489L => dur = ebmlFloat(buf, o, sz).toLong // Duration
          case 0xB0L => w = math.max(w, beUint(buf, o, sz)) // PixelWidth
          case 0xBAL => h = math.max(h, beUint(buf, o, sz)) // PixelHeight
          case _ => () // EBMLHeader internals, Void, unknown: skip
        }
      }
      // a well-formed foreign file may still carry >32-bit values; the
      // Int schema cannot represent them, so they take the null row
      // (out-of-model, not silently wrapped) — same contract as corrupt
      if (!sawInfo || ts < 0 || dur < 0 || ts > Int.MaxValue || dur > Int.MaxValue ||
          w > Int.MaxValue || h > Int.MaxValue) null
      else Row(ts.toInt, dur.toInt, nTracks, w.toInt, h.toInt)
    }

  /** Per-TRACK webm metadata (round 16) — the EBML twin of
    * decodeMp4Tracks: TrackNumber/TrackType uints, the CodecID string,
    * Audio(SamplingFrequency float, Channels uint) for audio tracks,
    * Video(PixelWidth, PixelHeight) for video tracks. One row per
    * TrackEntry; malformed trees or out-of-Int values yield the single
    * null row — corrupt files are data.
    */
  def decodeWebmTracks(media: DataFrame): DataFrame =
    decodeFrame(media.select("media_id", "payload"), fieldsOf("track_num" -> IntegerType,
        "track_type" -> IntegerType, "codec_id" -> StringType, "channels" -> IntegerType,
        "sample_rate" -> IntegerType, "width" -> IntegerType, "height" -> IntegerType)) { r =>
      val buf = r.getAs[Array[Byte]](1)
      val containers = Set(0x18538067L, 0x1654AE6BL, 0xE0L, 0xE1L) // Segment/Tracks/Video/Audio
      val tracks = scala.collection.mutable.ArrayBuffer.empty[Row]
      var tn, tt, ch, rate, w, h = -1L
      var codec: String = null
      def visit(eid: Long, o: Int, sz: Int): Unit = eid match {
        case 0xAEL => // TrackEntry: fresh state, then emit
          tn = -1; tt = -1; ch = -1; rate = -1; w = -1; h = -1
          codec = null
          walkEbml(buf, o, o + sz, containers)(visit)
          val vs = Seq(tn, tt, ch, rate, w, h)
          // a >32-bit value takes the media's null row (out-of-model);
          // an absent one (-1) is a null field
          require(vs.forall(_ <= Int.MaxValue), "track value beyond Int")
          val ints = vs.map(v => if (v < 0) null else Integer.valueOf(v.toInt))
          tracks += Row.fromSeq(ints.take(2) ++ (codec +: ints.drop(2)))
        case 0xD7L => tn = beUint(buf, o, sz) // TrackNumber
        case 0x83L => tt = beUint(buf, o, sz) // TrackType
        case 0x86L => codec = new String(buf, o, sz, "US-ASCII") // CodecID
        case 0xB5L => rate = ebmlFloat(buf, o, sz).toLong // SamplingFrequency
        case 0x9FL => ch = beUint(buf, o, sz) // Channels
        case 0xB0L => w = beUint(buf, o, sz) // PixelWidth
        case 0xBAL => h = beUint(buf, o, sz) // PixelHeight
        case _ => ()
      }
      walkEbml(buf, 0, buf.length, containers)(visit)
      if (tracks.isEmpty) null else tracks.toSeq
    }

  // ------------------------------------------------------------------
  // JPEG tier (round 16): the format real crawled corpora are
  // overwhelmingly made of, and the one real-decode gap javax.imageio
  // closes in-box. Lossy codec, so the gates split honestly:
  //  - marker STRUCTURE + dims: deterministic, hash-gated (a real
  //    JFIF/marker walk, the mp4/webm discipline);
  //  - flat-color payloads: the DCT of a uniform block is exact and the
  //    gray YCbCr round-trip is integer-exact (measured over all 256
  //    grays, JpegSpec pins it), so decoded PIXELS hash-gate;
  //  - textured payloads: decode error is codec arithmetic with no SQL
  //    twin — the gate is a bounded-error claim (within_tol) whose
  //    measured distribution JpegSpec pins (the emb_pq_error pattern).

  /** Deterministic JPEG fixture contract per image doc (doc_id%3==0):
    * (width 8..16, height 8..16, flat?) — flat payloads are uniform gray
    * (id%256) written at quality 1.0; textured payloads carry the PNG
    * tier's gradient pattern at quality 0.75 in one of THREE variants
    * ([[jpegVariant]], round 17): 0 = baseline gray, 1 = baseline COLOR
    * (per-channel gradients — real 4:2:0 chroma subsampling does real
    * damage), 2 = PROGRESSIVE color (SOF2 multi-scan).
    */
  def jpegParams(mediaId: Long): (Int, Int, Boolean) =
    ((8 + mediaId % 9).toInt, (8 + (mediaId / 9) % 9).toInt,
      (mediaId / 3) % 2 == 0)

  /** Textured-population variant: 0 gray / 1 color / 2 progressive
    * (flat payloads are always variant 0 — the pixel-exact gate needs
    * uniform gray).
    */
  def jpegVariant(mediaId: Long): Int =
    if ((mediaId / 3) % 2 == 0) 0 else ((mediaId / 3) / 2 % 3).toInt

  /** Per-channel source pattern of a textured payload. Gray variants
    * repeat the r-channel gradient on all three channels.
    */
  def jpegRgb(mediaId: Long, x: Int, y: Int): (Int, Int, Int) = {
    val r = ((x * 31 + y * 7 + mediaId) % 256).toInt
    if (jpegVariant(mediaId) == 0) (r, r, r)
    else (r, ((x * 13 + y * 17 + mediaId * 3) % 256).toInt,
      ((x * 7 + y * 29 + mediaId * 5) % 256).toInt)
  }

  private def encodeJpeg(mediaId: Long): Array[Byte] = {
    val (w, h, flat) = jpegParams(mediaId)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g0 = (mediaId % 256).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px = if (flat) (g0 << 16) | (g0 << 8) | g0
        else {
          val (r, g, b) = jpegRgb(mediaId, x, y)
          (r << 16) | (g << 8) | b
        }
        img.setRGB(x, y, px)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(if (flat) 1.0f else 0.75f)
    if (jpegVariant(mediaId) == 2)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** The JPEG fixture as a media table (media_id, payload) over the
    * image doc population — generate-in-place, never shuffled.
    */
  def withJpegMedia(docs: DataFrame): DataFrame = encodeEach(docs, 0)(encodeJpeg)

  /** JPEG metadata via a REAL marker walk (ITU T.81 §B) over the WHOLE
    * stream, SOI to EOI: frame dims and component count from the SOF
    * segment, quantization/Huffman TABLE counts parsed from inside the
    * DQT/DHT segments (a segment may carry several tables — counting
    * segments would be wrong), APP0/JFIF presence, and since round 18
    * the SCAN count — each SOS is followed by the entropy-coded-segment
    * skip (T.81 §B.1.1.5: inside a scan, 0xFF is followed by a 0x00
    * stuffing byte or an RST marker; the first 0xFF + other byte is the
    * next true marker), so a PROGRESSIVE stream's between-scan DHT
    * tables are counted and n_scans reports its scan script length.
    * Malformed streams (no SOI, truncated segment, a fill-byte-less
    * stray, no SOF, no EOI) surface as the null row — corrupt files are
    * data.
    */
  def decodeJpegMarkers(media: DataFrame): DataFrame =
    decodeEach(media, fieldsOf("width" -> IntegerType, "height" -> IntegerType,
        "n_components" -> IntegerType, "n_dqt" -> IntegerType, "n_dht" -> IntegerType,
        "sof_marker" -> IntegerType, "n_app0" -> IntegerType, "n_scans" -> IntegerType)) { b =>
      var ok = b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
      var w, h, nc, sof = -1
      var nDqt, nDht, nApp0, nScans = 0
      var i = 2
      var done = false
      def u8(o: Int): Int = b(o) & 0xff
      while (ok && !done) {
        // T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        // fill bytes — skip them so spec-valid foreign streams parse.
        while (i + 1 < b.length && u8(i) == 0xff && u8(i + 1) == 0xff) i += 1
        if (i + 2 > b.length || u8(i) != 0xff) ok = false
        else if (u8(i + 1) == 0xd9) done = true // EOI: standalone, ends the stream
        else if (i + 4 > b.length) ok = false
        else {
          val m = u8(i + 1)
          val len = be16(b, i + 2)
          val end = i + 2 + len
          if (len < 2 || end > b.length) ok = false
          else {
            m match {
              case 0xdb => // DQT: tables are 1 + 64·(1+precision) bytes
                var off = i + 4
                while (ok && off < end) {
                  val pq = (u8(off) & 0xf0) >> 4
                  off += 1 + (if (pq == 0) 64 else 128)
                  if (off > end) ok = false else nDqt += 1
                }
              case 0xc4 => // DHT: 17-byte header + Σ code counts —
                // the 17 header bytes must fit inside the segment
                // BEFORE being read, else a short len yields garbage
                // counts instead of the contractual null row
                var off = i + 4
                while (ok && off < end) {
                  if (off + 17 > end) ok = false
                  else {
                    var tot = 0
                    var k = 1
                    while (k <= 16) { tot += u8(off + k); k += 1 }
                    off += 17 + tot
                    if (off > end) ok = false else nDht += 1
                  }
                }
              case 0xe0 => nApp0 += 1
              case 0xda => nScans += 1 // SOS: skip the scan's entropy data below
              case mm if mm >= 0xc0 && mm <= 0xcf && mm != 0xc8 && mm != 0xcc =>
                // SOF payload is ≥ 6 bytes (precision, h, w, nc)
                if (len < 8) ok = false
                else { sof = mm; h = be16(b, i + 5); w = be16(b, i + 7); nc = u8(i + 9) }
              case _ => () // APPn, COM, others: skip
            }
            i = end
            if (ok && m == 0xda) {
              // entropy-coded-segment skip: 0xFF 0x00 is a stuffing
              // pair, 0xFF 0xD0-0xD7 a restart marker (both stay in
              // the scan); the first other 0xFF-pair is the next
              // marker — a truncated scan (no terminating marker)
              // is the null row
              var scanning = true
              while (ok && scanning) {
                if (i + 1 >= b.length) { ok = false; scanning = false }
                else if (u8(i) == 0xff) {
                  val nm = u8(i + 1)
                  if (nm == 0x00 || (nm >= 0xd0 && nm <= 0xd7)) i += 2
                  else scanning = false
                } else i += 1
              }
            }
          }
        }
      }
      if (!ok || !done || sof < 0 || nScans < 1) null
      else Row(w, h, nc, nDqt, nDht, sof, nApp0, nScans)
    }

  /** Decoded-PIXEL gate through the lossy codec, on the payloads where
    * lossy is exact: flat-color JPEGs decode to their source gray
    * bit-exactly (uniform blocks have only a DC coefficient and the gray
    * YCbCr round trip is integer-exact — JpegSpec measures this over all
    * 256 grays). (media_id, gray = decoded pixel(0,0) gray value or null
    * if channels disagree, uniform = all pixels equal it).
    */
  def decodeJpegFlat(media: DataFrame): DataFrame =
    decodeImages(media, fieldsOf("gray" -> IntegerType, "uniform" -> BooleanType)) { img =>
      val p0 = img.getRGB(0, 0)
      val g = p0 & 0xff
      val chansAgree = ((p0 >> 16) & 0xff) == g && ((p0 >> 8) & 0xff) == g
      var uniform = chansAgree
      var y = 0
      while (uniform && y < img.getHeight) {
        var x = 0
        while (uniform && x < img.getWidth) {
          if (img.getRGB(x, y) != p0) uniform = false
          x += 1
        }
        y += 1
      }
      Row(if (chansAgree) g else null, uniform)
    }

  /** The JPEG decode-error honesty card, split by what 4:2:0 can and
    * cannot damage: re-derive each textured payload's SOURCE pattern
    * from the synthesis contract ([[jpegRgb]] — gray, color, or
    * progressive-color per [[jpegVariant]]), decode the real bytes, and
    * claim TWO bounds per image. `within_tol` bounds the LUMA error
    * (integer BT.601 (77r+150g+29b)>>8) at `tol` — luma keeps full
    * resolution under 4:2:0, so the bound stays tight for every variant
    * (measured max 44 gray / 43 color / 43 progressive; JpegSpec pins
    * nonzero). `chroma_within_tol` bounds the raw per-channel RGB error
    * at `chromaTol` — on adversarial per-channel gradients the 2×2
    * chroma average is the dominant loss (measured max 210 baseline /
    * 229 progressive, vs 44 on gray), which is exactly the honest story
    * of a subsampled codec. The errors are codec arithmetic with no SQL
    * twin, so the GATE is the bounds; distributions are JpegSpec-pinned.
    * (media_id, n_px, within_tol, chroma_within_tol).
    */
  def decodeJpegError(media: DataFrame, tol: Int = 64,
                      chromaTol: Int = 240): DataFrame =
    decodeFrame(media.select("media_id", "payload"), fieldsOf("n_px" -> LongType,
        "within_tol" -> BooleanType, "chroma_within_tol" -> BooleanType)) { r =>
      val id = r.getLong(0)
      val img = readImage(r.getAs[Array[Byte]](1))
      if (img == null) null
      else {
        def luma(r0: Int, g0: Int, b0: Int): Int = (77 * r0 + 150 * g0 + 29 * b0) >> 8
        var maxLuma = 0
        var maxRgb = 0
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val (wr, wg, wb) = jpegRgb(id, x, y)
            val px = img.getRGB(x, y)
            val gr = (px >> 16) & 0xff
            val gg = (px >> 8) & 0xff
            val gb = px & 0xff
            val eRgb = math.max(math.abs(wr - gr),
              math.max(math.abs(wg - gg), math.abs(wb - gb)))
            if (eRgb > maxRgb) maxRgb = eRgb
            val eL = math.abs(luma(wr, wg, wb) - luma(gr, gg, gb))
            if (eL > maxLuma) maxLuma = eL
            x += 1
          }
          y += 1
        }
        Seq(Row(img.getWidth.toLong * img.getHeight, maxLuma <= tol, maxRgb <= chromaTol))
      }
    }

  /** Perceptual (average) hash of image payloads from REAL pixel decode —
    * the image-dedup primitive (near-identical images collide; aHash is
    * the simplest of the pHash family). To keep the hash cross-engine
    * exact, the usual area-resample is replaced by a fixed 6×10 POINT
    * GRID: sample gray at (⌊gx·w/6⌋, ⌊gy·h/10⌋), bit j = gy·6+gx set iff
    * 60·g_j > Σg — all integer arithmetic, so the DuckDB twin re-derives
    * the identical 60-bit hash from the synthesis contract while Spark
    * computes it from the DECODED PNG bytes. The mean-threshold makes
    * the hash invariant to uniform brightness shifts (60·(g+c) >
    * Σg+60·c ⇔ 60·g > Σg) — the fixture's same-dims images are exactly
    * such shifts (mod-256 wraparound aside), which is what the pairs
    * query surfaces. 60 bits on purpose: the hash drops straight into
    * the `Dedup.hammingPairs` pigeonhole join (three 20-bit chunks) for
    * hamming-≤2 pair generation at scale.
    */
  def decodeImageAHash(media: DataFrame): DataFrame =
    decodeImages(media, fieldsOf("ahash" -> LongType))(img => Row(gridAHash(img)))

  /** Scene-cut detection over the per-frame fingerprint sequence: each
    * consecutive-frame transition scored by hash hamming distance, cuts
    * flagged at `tau` bits (adjacent frames of one shot share most of
    * their perceptual hash; a cut rewrites it). One per-video window
    * (partitions bounded by frames-per-video, never corpus size) over
    * the REAL decoded frame hashes.
    */
  def videoSceneCuts(frameHashes: DataFrame, tau: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame")
    frameHashes
      .withColumn("prev", lag(col("ahash"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("media_id"), col("frame"),
        bit_count(col("prev").bitwiseXOR(col("ahash"))).cast("long").as("hamming"))
      .withColumn("is_cut", col("hamming") >= tau)
  }

  /** Per-frame perceptual hashes of video payloads — the video
    * fingerprint sequence (near-dup videos share most frame hashes;
    * scene cuts show as hash jumps). REAL GIF decode per frame, same
    * gridAHash as the image tier; GifPixelProbe locks the codec round
    * trip pixel-exact, which is what lets the DuckDB twin re-derive
    * every frame hash from the synthesis contract.
    */
  def decodeVideoFrameHashes(media: DataFrame): DataFrame =
    decodeFrame(media.select("media_id", "payload"),
        StructField("frame", IntegerType, nullable = false) +: fieldsOf("ahash" -> LongType)) { r =>
      // Frames decoded so far survive a mid-decode failure, and the
      // failure itself lands as one null-hash row (the image tier's
      // corrupt-payload convention), so a partly corrupt video never
      // vanishes. A payload no reader accepts is the frame-0 null-hash row.
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      try {
        val read = withReader(r.getAs[Array[Byte]](1)) { rdr =>
          val n = rdr.getNumImages(true)
          var f = 0
          while (f < n) { out += Row(f, gridAHash(rdr.read(f))); f += 1 }
        }
        if (read.isEmpty) out += Row(0, null)
      } catch { case NonFatal(_) => out += Row(out.length, null) }
      out.toSeq
    }

  /** Video-level near-dup from per-frame fingerprints: directed frame-set
    * containment C(A→B) = |H_A ∩ H_B| / |H_A| ≥ `minContainment` over
    * DISTINCT frame hashes — the text containment semantics on the video
    * fingerprint. Candidates come from an equi-join on the hash value (an
    * inverted index over frame hashes), so work is Σ bucket² over
    * hash-collision groups, never corpus². `fh` is the
    * `decodeVideoFrameHashes` output (media_id, frame, ahash).
    */
  def videoNearDup(fh0: DataFrame, minContainment: Double = 0.8): DataFrame = {
    // drop the corrupt-frame null-hash marker rows decodeVideoFrameHashes
    // emits: a null can never equi-join, so leaving it in would only
    // inflate n_h and deflate every containment of a partly-corrupt video
    val fh = fh0.filter(col("ahash").isNotNull)
      .select(col("media_id"), col("ahash")).distinct()
    val sizes = fh.groupBy("media_id").agg(count(lit(1)).as("n_h"))
    val shared = fh.as("a").join(fh.as("b"),
        col("a.ahash") === col("b.ahash") &&
          col("a.media_id") =!= col("b.media_id"))
      .groupBy(col("a.media_id").as("vid_a"), col("b.media_id").as("vid_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared.join(sizes.withColumnRenamed("media_id", "vid_a"), "vid_a")
      .select(col("vid_a"), col("vid_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_h")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  val featureSchema: StructType = StructType(Seq(
    idField,
    StructField("modality", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", LongType),
    StructField("checksum", LongType)))

  /** Decode/feature-extract over the payload column. Narrow (no shuffle):
    * runs per input partition, processing rows in a streaming iterator.
    * ALL THREE modalities route through real JDK codecs: image via
    * javax.imageio (width/height from the actual PNG), audio via
    * javax.sound.sampled (sample rate / frame count from the actual WAV
    * header), video via the javax.imageio multi-frame reader (frame count
    * + frame-0 dims from the actual GIF container). A payload its codec
    * can't parse falls back to the deterministic STUB — width/height
    * derived from the byte checksum, the shape a real codec would fill —
    * so corrupt files are data, not crashes.
    */
  def extractFeatures(media: DataFrame): DataFrame =
    decodeFrame(media.select("media_id", "modality", "payload"),
        featureSchema.fields.toSeq.tail) {
      // ONE PNG reader per partition (one thread — ImageReader isn't
      // thread-safe but needs no cross-row state beyond reset()): the
      // per-row ImageIO.read path pays an SPI registry scan + reader
      // construction + a FULL pixel decode per image, when the features
      // only need header dims. getWidth/getHeight on a reusable reader
      // parse the IHDR chunk alone. Non-PNG or header-corrupt payloads
      // fall through to the generic full-decode path, then the stub —
      // the synthesis contract is PNG, but a foreign codec's payload
      // still decodes exactly as before.
      lazy val pngReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      lazy val gifReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      def imageDims(payload: Array[Byte]): Row =
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            pngReader.setInput(iis, true, true)
            Row(pngReader.getWidth(0), pngReader.getHeight(0), null, null)
          } finally { pngReader.setInput(null); iis.close() }
        } catch {
          case NonFatal(_) =>
            val img = readImage(payload)
            if (img == null) null else Row(img.getWidth, img.getHeight, null, null)
        }
      r => {
        val payload = r.getAs[Array[Byte]](2)
        var checksum = 0L
        var i = 0
        while (i < payload.length) { checksum = checksum * 31 + (payload(i) & 0xff); i += 1 }
        // (width, height, sample_rate, n_frames) from the modality's codec
        val meta: Row = try r.getString(1) match {
          case "image" => imageDims(payload)
          case "audio" =>
            val ais = openAudio(payload)
            Row(null, null, ais.getFormat.getSampleRate.toInt, ais.getFrameLength)
          case "video" => // n_frames rides the frame-count column; dims = frame dims
            Option(gifMeta(gifReader, payload))
              .map(m => Row(m._2, m._3, null, m._1.toLong)).orNull
          case _ => null
        } catch { case NonFatal(_) => null }
        val stub = Row(64 + math.abs(checksum % 1024).toInt,
          64 + math.abs((checksum / 1024) % 1024).toInt, null, null)
        Seq(Row.fromSeq(Seq(r.getString(1), payload.length.toLong) ++
          Option(meta).getOrElse(stub).toSeq :+ checksum))
      }
    }

  /** Resize. Image payloads go through the REAL codec path: javax.imageio
    * decode → Graphics2D nearest-neighbor rescale (deterministic — no
    * filter kernels whose rounding could differ) → PNG re-encode, binary
    * in → binary out, narrow, per-partition. Video payloads (multi-frame
    * GIF) decode the same way — ImageIO.read returns frame 0, so a video
    * row resizes its POSTER FRAME (per-frame resize composes
    * sampleFrames with this same rescale). Payloads no codec can parse
    * (audio/corrupt) keep the deterministic STUB bytes (a slice/pad
    * sized targetW·targetH/64).
    */
  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val n = math.max(1, targetW * targetH / 64)
    decodeFrame(media.select("media_id", "payload"), fieldsOf("target_w" -> IntegerType,
        "target_h" -> IntegerType, "resized" -> BinaryType)) { r =>
      val p = r.getAs[Array[Byte]](1)
      val img = readImage(p)
      val resized = if (img != null) {
        val dst = new java.awt.image.BufferedImage(targetW, targetH,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
        g.drawImage(img, 0, 0, targetW, targetH, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      } else
        Array.tabulate[Byte](n)(i => if (p.isEmpty) 0 else p(i % p.length))
      Seq(Row(targetW, targetH, resized))
    }
  }

  /** Frame sampling: decode every `stride`-th frame of each video payload
    * through the REAL multi-frame reader (javax.imageio over the GIF
    * container) and emit a checksum over the frame's decoded pixels — the
    * explode shape (one input row → N frame rows, no shuffle) a video
    * pipeline needs, with an actual per-frame decode behind it. A payload
    * no reader can parse falls back to the deterministic byte-window stub
    * (1 pseudo-frame per 16 payload bytes) — corrupt files are data, not
    * crashes.
    */
  def sampleFrames(media: DataFrame, stride: Int = 2): DataFrame =
    decodeFrame(media.filter(col("modality") === "video").select("media_id", "payload"),
        fieldsOf("frame_idx" -> IntegerType, "frame_checksum" -> LongType)) { r =>
      val p = r.getAs[Array[Byte]](1)
      val real = try withReader(p) { reader =>
        (0 until reader.getNumImages(true) by stride).map { i =>
          val img = reader.read(i)
          var cs = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              cs = cs * 31 + (img.getRGB(x, y) & 0xffffff)
              x += 1
            }
            y += 1
          }
          Row(i, cs)
        }
      } catch { case NonFatal(_) => None }
      real.getOrElse((0 until math.max(1, p.length / 16) by stride).map { i =>
        var cs = 0L
        var j = i * 16
        while (j < math.min(p.length, (i + 1) * 16)) { cs = cs * 31 + (p(j) & 0xff); j += 1 }
        Row(i, cs)
      })
    }
}
