package graft.queries

import graft.GraftQuery
import graft.operators.Multimodal
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Multimodal plumbing queries. `multimodal_meta` has a full DuckDB oracle
  * (metadata derivation is pure SQL); `multimodal_features` runs the stubbed
  * decode path and gets the rows-only check (the mapPartitions decoder has
  * no SQL twin by design).
  */
object MultimodalQueries {

  /** The synthesized media table (real PNG/WAV payloads), materialized once
    * per SF dir: synthesis is fixture SCAFFOLDING — a real corpus arrives
    * as bytes on disk — so the decode queries should measure decode, not
    * re-encode the fixtures on every run. Payloads are generated in place
    * and written once; queries scan the parquet (payload column pruned
    * away entirely for metadata-only queries).
    */
  def persistedMedia(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "media", "documents.parquet", "_gif") { // _gif: video rows became real multi-frame GIFs
      Multimodal.withRealMedia(Tables.documents(s, d))
    }

  /** The SPECTRAL audio fixture (round 15): real WAVs over integer-exact
    * triangle/square waveforms (Multimodal.spectralParams contract), so
    * the fixed-point-DFT tier carries a full hash gate. Separate table
    * from persistedMedia: the sine fixture's sign/zcr contracts stay
    * byte-stable.
    */
  def persistedMediaSpectral(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "mediasp", "documents.parquet") {
      Multimodal.withSpectralMedia(Tables.documents(s, d))
    }

  /** The mp4 fixture (round 15): minimal valid ISO-BMFF box trees per
    * video doc, persisted once per corpus (Multimodal.mp4Params contract).
    */
  def persistedMediaMp4(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "mediamp4", "documents.parquet", "_trk") { // _trk: round-16 per-track mdia/hdlr/stsd boxes
      Multimodal.withMp4Media(Tables.documents(s, d))
    }

  /** The webm fixture (round 15): minimal valid EBML trees per video doc
    * (Multimodal.webmParams contract) — the mp4 tier's variable-length-
    * integer sibling.
    */
  def persistedMediaWebm(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Persisted(s, d, "mediawebm", "documents.parquet", "_trk") { // _trk: round-16 CodecID + audio TrackEntries
      Multimodal.withWebmMedia(Tables.documents(s, d))
    }

  /** The JPEG fixture (round 16): real lossy-codec payloads per image
    * doc (Multimodal.jpegParams contract) — flat rows at quality 1.0
    * (pixel-exact, hash-gateable), textured rows at 0.75 (the bounded-
    * error card).
    */
  def persistedMediaJpeg(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    // _v2: round 17 added color + progressive variants to the textured
    // population (jpegVariant) — the payload bytes changed
    Persisted(s, d, "mediajpeg", "documents.parquet", "_v2") {
      Multimodal.withJpegMedia(Tables.documents(s, d))
    }

  def all: Seq[GraftQuery] = Seq(

    // JPEG marker-structure walk over the WHOLE stream (SOI to EOI,
    // round 18): dims and component count from the SOF segment of a
    // REAL T.81 parse, quantization and Huffman TABLE counts from
    // inside the DQT/DHT segments ACROSS ALL SCANS (each SOS is
    // followed by the entropy-coded-segment skip), scan count, APP0
    // presence — all three variants (baseline gray, baseline color,
    // PROGRESSIVE color). The pinned literals are the JDK ImageIO
    // ENCODER's emission constants, measured over 50k ids (BASELINE.md
    // "Round-18 JPEG full-stream constants") on this JRE (Temurin-style Debian 17.0.20: baseline
    // = 4 DHTs / 1 scan / SOF0; progressive = 10 DHTs total / 10 scans
    // / SOF2) — a JDK vendor/version change can move them; re-run the
    // sweep and re-pin rather than debugging a hash-fail blind
    // (BASELINE.md round-18 note).
    GraftQuery("multimodal_jpeg_meta",
      (s, d) => Multimodal.decodeJpegMarkers(persistedMediaJpeg(s, d))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(8 + doc_id % 9 AS INT) AS width,
          |  CAST(8 + (doc_id // 9) % 9 AS INT) AS height,
          |  CAST(3 AS INT) AS n_components,
          |  CAST(2 AS INT) AS n_dqt,
          |  CAST(CASE WHEN (doc_id // 3) % 2 = 1 AND ((doc_id // 3) // 2) % 3 = 2
          |       THEN 10 ELSE 4 END AS INT) AS n_dht,
          |  CAST(CASE WHEN (doc_id // 3) % 2 = 1 AND ((doc_id // 3) // 2) % 3 = 2
          |       THEN 194 ELSE 192 END AS INT) AS sof_marker,
          |  CAST(1 AS INT) AS n_app0,
          |  CAST(CASE WHEN (doc_id // 3) % 2 = 1 AND ((doc_id // 3) // 2) % 3 = 2
          |       THEN 10 ELSE 1 END AS INT) AS n_scans
          |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin)),

    // The EXISTING image decode path (extractFeatures' javax.imageio
    // branch) consumes JPEG transparently — same reader entry point the
    // PNG tier gates, now hash-gated against the JPEG fixture contract.
    GraftQuery("multimodal_jpeg_dims",
      (s, d) => Multimodal.decodeImageDims(persistedMediaJpeg(s, d))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(8 + doc_id % 9 AS INT) AS width,
          |  CAST(8 + (doc_id // 9) % 9 AS INT) AS height
          |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin)),

    // Decoded PIXELS through the lossy codec, hash-gated where lossy is
    // exact: flat-color payloads must decode to their contract gray
    // bit-exactly, uniformly (uniform DCT blocks carry only a DC
    // coefficient; the gray YCbCr round trip is integer-exact — JpegSpec
    // measures all 256 grays). A codec/quality/subsampling drift lands
    // here as a hash fail, not a silent quality loss.
    GraftQuery("multimodal_jpeg_flat",
      (s, d) => Multimodal.decodeJpegFlat(
        persistedMediaJpeg(s, d).filter(expr("media_id div 3") % 2 === 0))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(doc_id % 256 AS INT) AS gray,
          |  TRUE AS uniform
          |FROM documents WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 0
          |ORDER BY media_id""".stripMargin)),

    // The decode-error honesty card for the textured tier, split by what
    // 4:2:0 subsampling can damage (round 17): within_tol bounds the
    // full-resolution LUMA error at 64 (measured max 44/43/43 across
    // gray/color/progressive — tight for every variant); chroma_within_tol
    // bounds the raw per-channel RGB error at 240 (measured max 210
    // baseline color / 229 progressive vs 44 gray — the honest cost of a
    // subsampled codec on adversarial per-channel gradients). The bounds
    // gate; JpegSpec pins the measured distributions and that both error
    // kinds are NONZERO (the card can't go vacuous).
    GraftQuery("multimodal_jpeg_error",
      (s, d) => Multimodal.decodeJpegError(
        persistedMediaJpeg(s, d).filter(expr("media_id div 3") % 2 === 1))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST((8 + doc_id % 9) * (8 + (doc_id // 9) % 9) AS BIGINT) AS n_px,
          |  TRUE AS within_tol, TRUE AS chroma_within_tol
          |FROM documents WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 1
          |ORDER BY media_id""".stripMargin)),

    GraftQuery("multimodal_meta",
      (s, d) => Multimodal.fromDocuments(Tables.documents(s, d))
        .groupBy("modality")
        .agg(count(lit(1)).as("n_media"),
          sum(octet_length(col("payload")).cast("long")).as("total_bytes"),
          min("media_id").as("min_id"))
        .orderBy("modality"),
      Some(
        """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
          |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
          |  count(*) AS n_media,
          |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
          |  min(doc_id) AS min_id
          |FROM documents GROUP BY 1 ORDER BY modality""".stripMargin)),

    // The feature extractor itself, hash-gated: the deterministic
    // projection of its rows — routing (modality → the right codec →
    // the right columns), decoded dims/rates/frame counts, and the one
    // byte length with a closed form (WAV = 44-byte canonical header +
    // 2 bytes/frame PCM16 mono, pinned in MultimodalSpec). The checksum
    // column (a fold over real PNG/GIF/WAV container bytes) is the only
    // field without a SQL twin and is spec-covered instead — this entry
    // was rows-only until round 9.
    GraftQuery("multimodal_features",
      (s, d) => Multimodal.extractFeatures(persistedMedia(s, d))
        .select(col("media_id"), col("modality"), col("width"), col("height"),
          col("sample_rate"), col("n_frames"),
          when(col("modality") === "audio", col("n_bytes")).as("audio_bytes"))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CASE WHEN doc_id % 3 = 0 THEN 'image'
          |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 + doc_id % 16
          |            WHEN doc_id % 3 = 2 THEN 6 + doc_id % 10 END AS INT) AS width,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 + (doc_id // 16) % 16
          |            WHEN doc_id % 3 = 2 THEN 6 + (doc_id // 10) % 10 END AS INT) AS height,
          |  CAST(CASE WHEN doc_id % 3 = 1 THEN
          |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
          |         WHEN 2 THEN 16000 ELSE 22050 END END AS INT) AS sample_rate,
          |  CAST(CASE WHEN doc_id % 3 = 1 THEN 64 + doc_id % 256
          |            WHEN doc_id % 3 = 2 THEN 2 + doc_id % 7 END AS BIGINT) AS n_frames,
          |  CAST(CASE WHEN doc_id % 3 = 1 THEN 44 + 2 * (64 + doc_id % 256) END AS BIGINT) AS audio_bytes
          |FROM documents ORDER BY media_id""".stripMargin)),

    // The feature EXTRACTOR's routing, hash-gated for ALL THREE real
    // modalities: extractFeatures must send image payloads through
    // javax.imageio, audio payloads through javax.sound.sampled, and
    // video payloads through the multi-frame GIF reader — landing each
    // modality's fields in the right columns (image dims / audio
    // rate+frames / video dims+frame-count, NULLs crosswise). The oracle
    // re-derives all three synthesis contracts from doc_id.
    GraftQuery("multimodal_decode_meta",
      (s, d) => Multimodal.extractFeatures(persistedMedia(s, d))
        .select("media_id", "modality", "width", "height", "sample_rate", "n_frames")
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CASE WHEN doc_id % 3 = 0 THEN 'image'
          |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 + doc_id % 16
          |            WHEN doc_id % 3 = 2 THEN 6 + doc_id % 10 END AS INT) AS width,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 4 + (doc_id // 16) % 16
          |            WHEN doc_id % 3 = 2 THEN 6 + (doc_id // 10) % 10 END AS INT) AS height,
          |  CAST(CASE WHEN doc_id % 3 = 1 THEN
          |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
          |         WHEN 2 THEN 16000 ELSE 22050 END END AS INT) AS sample_rate,
          |  CAST(CASE WHEN doc_id % 3 = 1 THEN 64 + doc_id % 256
          |            WHEN doc_id % 3 = 2 THEN 2 + doc_id % 7 END AS BIGINT) AS n_frames
          |FROM documents ORDER BY media_id""".stripMargin)),

    // Real-codec round trip for the THIRD modality, oracle-checked: video
    // payloads are valid multi-frame GIFs (javax.imageio sequence writer
    // at synthesis), and n_frames / width / height come from DECODING
    // those bytes via the frame-enumerating reader. The oracle re-derives
    // the fixture's video contract (Multimodal.videoParams) from doc_id —
    // a wrong frame count, header parse, or synthesis drift all hash-fail.
    GraftQuery("multimodal_video_meta",
      (s, d) => Multimodal.decodeVideoMeta(
        persistedMedia(s, d).filter(col("modality") === "video"))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(2 + doc_id % 7 AS INT) AS n_frames,
          |  CAST(6 + doc_id % 10 AS INT) AS width,
          |  CAST(6 + (doc_id // 10) % 10 AS INT) AS height
          |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin)),

    // Real-codec round trip, oracle-checked: image payloads are valid PNGs
    // (javax.imageio encode at synthesis), and width/height come from
    // javax.imageio DECODING those bytes. The oracle re-derives the
    // fixture's dimension contract (Multimodal.imageDims) from doc_id — a
    // wrong header parse, stride bug, or synthesis drift all hash-fail.
    GraftQuery("multimodal_image_dims",
      (s, d) => Multimodal.decodeImageDims(
        persistedMedia(s, d).filter(col("modality") === "image"))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(4 + doc_id % 16 AS INT) AS width,
          |  CAST(4 + (doc_id // 16) % 16 AS INT) AS height
          |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin)),

    // Real-codec round trip for the SECOND modality, oracle-checked: audio
    // payloads are valid WAVs (javax.sound.sampled encode at synthesis),
    // and sample_rate / n_frames / channels come from DECODING those bytes.
    // The oracle re-derives the fixture's audio contract
    // (Multimodal.audioParams) from doc_id — a wrong RIFF parse, a
    // frame-length bug, or synthesis drift all hash-fail.
    GraftQuery("multimodal_audio_meta",
      (s, d) => Multimodal.decodeAudioMeta(
        persistedMedia(s, d).filter(col("modality") === "audio"))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
          |       WHEN 2 THEN 16000 ELSE 22050 END AS INT) AS sample_rate,
          |  CAST(64 + doc_id % 256 AS BIGINT) AS n_frames,
          |  CAST(1 AS INT) AS channels
          |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin)),

    // Audio CONTENT fingerprint from real PCM decode: the 60-bit sign
    // signature of the first 60 samples (amplitude-invariant, pitch-
    // sensitive). Spark decodes the WAV bytes through javax.sound and
    // reads actual samples; the oracle replays every bit with pure
    // integer arithmetic from the synthesis contract (audioFpCte) — an
    // endianness flip, off-by-one frame, or header mis-parse all
    // hash-fail.
    GraftQuery("multimodal_audio_fp",
      (s, d) => Multimodal.decodeAudioSignFp(
        persistedMedia(s, d).filter(col("modality") === "audio"))
        .orderBy("media_id"),
      Some(audioFpCte +
        "\nSELECT media_id, fp FROM afp ORDER BY media_id")),

    // Absolute-pitch fingerprint: the PCM resampled (nearest-neighbor,
    // integer index map) onto a common 22050 Hz grid before the sign
    // read, so same-frequency clips at DIFFERENT rates collide — the
    // rate-relative tier's documented blind spot closed. Still pure
    // integer arithmetic in the oracle.
    GraftQuery("multimodal_audio_fp_abs",
      (s, d) => Multimodal.decodeAudioSignFpCommon(
        persistedMedia(s, d).filter(col("modality") === "audio"))
        .orderBy("media_id"),
      Some(audioFpAbsCte +
        "\nSELECT media_id, fp FROM afpa ORDER BY media_id")),

    // Cross-rate audio near-dup at hamming <= 2 over the absolute-pitch
    // fingerprint — same pigeonhole banding; at sf0.01 this recovers 50
    // genuine same-frequency pairs the rate-relative tier cannot see.
    GraftQuery("multimodal_audio_neardup_abs",
      (s, d) => graft.operators.Dedup.hammingPairs(
          Multimodal.decodeAudioSignFpCommon(
            persistedMedia(s, d).filter(col("modality") === "audio")),
          "media_id", "fp", 60, 2)
        .orderBy("doc_a", "doc_b"),
      Some(audioFpAbsCte +
        """
          |SELECT a.media_id AS doc_a, b.media_id AS doc_b,
          |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          |FROM afpa a JOIN afpa b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 2
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Time-domain pitch from the FULL decoded PCM stream: zero-crossing
    // count and the rounded pitch estimate zcr·rate/(2·(n−1)). Spark
    // walks every real decoded frame; the oracle replays each sample's
    // sign from the integer residue contract — a codec bug anywhere in
    // the stream hash-fails, not just in the head the fingerprint reads.
    GraftQuery("multimodal_audio_pitch",
      (s, d) => Multimodal.decodeAudioZcr(
        persistedMedia(s, d).filter(col("modality") === "audio"))
        .orderBy("media_id"),
      Some(
        """WITH audio AS (
          |  SELECT doc_id, 220 + doc_id % 110 AS f,
          |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
          |         WHEN 2 THEN 16000 ELSE 22050 END AS rate,
          |    64 + doc_id % 256 AS n
          |  FROM documents WHERE doc_id % 3 = 1),
          |sg AS (
          |  SELECT doc_id, rate, n, t.i AS i,
          |    CASE WHEN (f * t.i) % rate = 0 OR 2 * ((f * t.i) % rate) = rate THEN 0
          |         WHEN 2 * ((f * t.i) % rate) < rate THEN 1 ELSE -1 END AS s
          |  FROM audio, unnest(range(0, n)) t(i)),
          |z AS (
          |  SELECT a.doc_id, max(a.rate) AS rate, max(a.n) AS n,
          |    CAST(sum(CASE WHEN a.s * b.s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS zcr
          |  FROM sg a JOIN sg b ON b.doc_id = a.doc_id AND b.i = a.i + 1
          |  GROUP BY a.doc_id)
          |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_frames, zcr,
          |  CAST(floor(CAST(zcr AS DOUBLE) * rate / (2.0 * (n - 1)) + 0.5) AS BIGINT) AS pitch_hz
          |FROM z ORDER BY media_id""".stripMargin)),

    // Audio near-dup pairs at hamming <= 2 over the sign fingerprint,
    // riding the SAME 20-bit pigeonhole banding as the SimHash text tier
    // and the image ahash pairs — cross-modality reuse of one blocking
    // engine. Hamming-close fingerprints are clips whose rate-normalized
    // pitch nearly coincides (the sign pattern is f/rate's trace), the
    // raw-PCM analogue of "same track, different gain".
    GraftQuery("multimodal_audio_neardup",
      (s, d) => graft.operators.Dedup.hammingPairs(
          Multimodal.decodeAudioSignFp(
            persistedMedia(s, d).filter(col("modality") === "audio")),
          "media_id", "fp", 60, 2)
        .orderBy("doc_a", "doc_b"),
      Some(audioFpCte +
        """
          |SELECT a.media_id AS doc_a, b.media_id AS doc_b,
          |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          |FROM afp a JOIN afp b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 2
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Perceptual hash from REAL pixel decode: Spark reads the PNG bytes
    // and samples a fixed 6×10 gray grid; the oracle re-derives the
    // identical 60-bit mean-threshold hash from the synthesis contract
    // (g(x,y) = (31x + 7y + id) mod 256) with pure integer arithmetic.
    // A stride bug, channel mixup, or resample drift all hash-fail.
    GraftQuery("multimodal_ahash",
      (s, d) => Multimodal.decodeImageAHash(
        persistedMedia(s, d).filter(col("modality") === "image"))
        .orderBy("media_id"),
      Some(ahashCte +
        "\nSELECT media_id, ahash FROM ah ORDER BY media_id")),

    // DCT low-frequency perceptual hash (pHash family) from REAL pixel
    // decode — robust to brightness AND contrast, where aHash only
    // survives brightness; the oracle replays the pixels from the
    // synthesis contract and the DCT from driver-inlined basis literals.
    GraftQuery("multimodal_phash",
      (s, d) => Multimodal.decodeImagePHash(
        persistedMedia(s, d).filter(col("modality") === "image"))
        .orderBy("media_id"),
      Some(phashCte +
        "\nSELECT media_id, phash FROM ph ORDER BY media_id")),

    // pHash near-dup pairs at hamming <= 1 via single-bit-flip
    // pigeonhole keys — pure equi-join blocking at 16 keys/image
    // (Dedup.hammingPairs at maxHamming 1); exact bit_count verify.
    GraftQuery("multimodal_phash_pairs",
      (s, d) => graft.operators.Dedup.hammingPairs(Multimodal.decodeImagePHash(
          persistedMedia(s, d).filter(col("modality") === "image")),
          "media_id", "phash", 15, 1)
        .orderBy("doc_a", "doc_b"),
      Some(phashCte +
        """
          |SELECT a.media_id AS doc_a, b.media_id AS doc_b,
          |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          |FROM ph a JOIN ph b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.phash, b.phash)) <= 1
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Image near-dup pairs at hamming <= 2 over the perceptual hash,
    // riding the SAME pigeonhole 20-bit-chunk banding as the 60-bit
    // SimHash text tier (equi-join candidates, exact hamming verify) —
    // image dedup with no new join machinery. The fixture's same-dims
    // images are uniform brightness shifts of each other (aHash-
    // invariant up to mod-256 wraparound), so the pairs are plentiful
    // and graded, not planted certainties.
    GraftQuery("multimodal_ahash_pairs",
      (s, d) => graft.operators.Dedup.hammingPairs(
          Multimodal.decodeImageAHash(
            persistedMedia(s, d).filter(col("modality") === "image")),
          "media_id", "ahash", 60, 2)
        .orderBy("doc_a", "doc_b"),
      Some(ahashCte +
        """
          |SELECT a.media_id AS doc_a, b.media_id AS doc_b,
          |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
          |FROM ah a JOIN ah b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // The video fingerprint: one 60-bit perceptual hash PER DECODED
    // FRAME (GifPixelProbe locks the codec round trip pixel-exact, so
    // the oracle re-derives every frame hash from the synthesis
    // contract). Near-dup videos share most of this sequence; scene
    // cuts show as hash jumps.
    GraftQuery("multimodal_video_framehash",
      (s, d) => Multimodal.decodeVideoFrameHashes(
        persistedMedia(s, d).filter(col("modality") === "video"))
        .orderBy("media_id", "frame"),
      Some(
        """WITH vid AS (
          |  SELECT doc_id, CAST(6 + doc_id % 10 AS BIGINT) AS w,
          |    CAST(6 + (doc_id // 10) % 10 AS BIGINT) AS h,
          |    CAST(2 + doc_id % 7 AS BIGINT) AS nf
          |  FROM documents WHERE doc_id % 3 = 2),
          |px AS (
          |  SELECT doc_id, f, gy * 6 + gx AS j,
          |    ((gx * w // 6) * 31 + (gy * h // 10) * 7 + f * 53 + doc_id) % 256 AS g
          |  FROM vid, unnest(range(0, nf)) t0(f),
          |    unnest(range(0, 6)) t1(gx), unnest(range(0, 10)) t2(gy)),
          |s AS (SELECT doc_id, f, sum(g) AS tot FROM px GROUP BY doc_id, f),
          |fh AS (
          |  SELECT px.doc_id AS media_id, CAST(px.f AS INT) AS frame,
          |    CAST(sum(CASE WHEN 60 * g > tot
          |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS ahash
          |  FROM px JOIN s ON px.doc_id = s.doc_id AND px.f = s.f
          |  GROUP BY px.doc_id, px.f)
          |SELECT media_id, frame, ahash FROM fh ORDER BY media_id, frame""".stripMargin)),

    // Scene cuts from the decoded fingerprint sequence: consecutive
    // frames scored by hash hamming (measured transition profile 0–43
    // bits, median 25 on the fixture), cuts flagged at ≥ 30. Spark runs
    // a per-video lag window over REAL decoded frames; the oracle
    // re-derives every transition from the synthesis contract.
    GraftQuery("multimodal_video_cuts",
      (s, d) => Multimodal.videoSceneCuts(Multimodal.decodeVideoFrameHashes(
        persistedMedia(s, d).filter(col("modality") === "video")))
        .orderBy("media_id", "frame"),
      Some(
        """WITH vid AS (
          |  SELECT doc_id, CAST(6 + doc_id % 10 AS BIGINT) AS w,
          |    CAST(6 + (doc_id // 10) % 10 AS BIGINT) AS h,
          |    CAST(2 + doc_id % 7 AS BIGINT) AS nf
          |  FROM documents WHERE doc_id % 3 = 2),
          |px AS (
          |  SELECT doc_id, f, gy * 6 + gx AS j,
          |    ((gx * w // 6) * 31 + (gy * h // 10) * 7 + f * 53 + doc_id) % 256 AS g
          |  FROM vid, unnest(range(0, nf)) t0(f),
          |    unnest(range(0, 6)) t1(gx), unnest(range(0, 10)) t2(gy)),
          |s AS (SELECT doc_id, f, sum(g) AS tot FROM px GROUP BY doc_id, f),
          |fh AS (
          |  SELECT px.doc_id AS media_id, CAST(px.f AS INT) AS frame,
          |    CAST(sum(CASE WHEN 60 * g > tot
          |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS ahash
          |  FROM px JOIN s ON px.doc_id = s.doc_id AND px.f = s.f
          |  GROUP BY px.doc_id, px.f)
          |SELECT a.media_id, b.frame,
          |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming,
          |  bit_count(xor(a.ahash, b.ahash)) >= 30 AS is_cut
          |FROM fh a JOIN fh b ON a.media_id = b.media_id AND b.frame = a.frame + 1
          |ORDER BY a.media_id, b.frame""".stripMargin)),

    // Video-level near-dup: directed frame-set containment over the
    // fingerprints — C(A→B) = |H_A ∩ H_B| / |H_A| ≥ 0.8 on DISTINCT
    // frame hashes, the same containment semantics as the text tier.
    // Candidates come from an equi-join on the hash value (an inverted
    // index over frame hashes — bucket sizes are hash-collision groups,
    // never corpus²). The fixture makes this graded: same-dims videos
    // are brightness/frame-shifted variants, so overlaps span full
    // containment down to partial frame sharing.
    GraftQuery("multimodal_video_neardup",
      (s, d) => Multimodal.videoNearDup(
        Multimodal.decodeVideoFrameHashes(
          persistedMedia(s, d).filter(col("modality") === "video")))
        .orderBy("vid_a", "vid_b"),
      Some(
        """WITH vid AS (
          |  SELECT doc_id, CAST(6 + doc_id % 10 AS BIGINT) AS w,
          |    CAST(6 + (doc_id // 10) % 10 AS BIGINT) AS h,
          |    CAST(2 + doc_id % 7 AS BIGINT) AS nf
          |  FROM documents WHERE doc_id % 3 = 2),
          |px AS (
          |  SELECT doc_id, f, gy * 6 + gx AS j,
          |    ((gx * w // 6) * 31 + (gy * h // 10) * 7 + f * 53 + doc_id) % 256 AS g
          |  FROM vid, unnest(range(0, nf)) t0(f),
          |    unnest(range(0, 6)) t1(gx), unnest(range(0, 10)) t2(gy)),
          |s AS (SELECT doc_id, f, sum(g) AS tot FROM px GROUP BY doc_id, f),
          |fh AS (
          |  SELECT DISTINCT px.doc_id AS media_id,
          |    CAST(sum(CASE WHEN 60 * g > tot
          |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS ahash
          |  FROM px JOIN s ON px.doc_id = s.doc_id AND px.f = s.f
          |  GROUP BY px.doc_id, px.f),
          |sz AS (SELECT media_id, count(*) AS n_h FROM fh GROUP BY media_id),
          |sh AS (
          |  SELECT a.media_id AS vid_a, b.media_id AS vid_b, count(*) AS n_shared
          |  FROM fh a JOIN fh b ON a.ahash = b.ahash AND a.media_id <> b.media_id
          |  GROUP BY 1, 2)
          |SELECT vid_a, vid_b, n_shared,
          |  CAST(n_shared AS DOUBLE) / sz.n_h AS containment
          |FROM sh JOIN sz ON vid_a = sz.media_id
          |WHERE CAST(n_shared AS DOUBLE) / sz.n_h >= 0.8
          |ORDER BY vid_a, vid_b""".stripMargin)),

    // Cross-modal pair curation (the CLIP-style image-text prep gate):
    // keep (doc, image) pairs where BOTH modalities pass — image area
    // from the REAL decode ≥ 100 px, text ≥ 25 tokens. One decode pass
    // joined 1:1 with one token aggregate; both gates are row-local
    // after their aggregates.
    GraftQuery("multimodal_pair_filter",
      (s, d) => {
        val dims = Multimodal.decodeImageDims(
          persistedMedia(s, d).filter(col("modality") === "image"))
        val toks = graft.operators.TextAnalysis.tokenStats(
          graft.sources.Tables.documents(s, d)).select("doc_id", "n_tokens")
        dims.join(toks, dims("media_id") === toks("doc_id"))
          .filter(col("width") * col("height") >= 100 && col("n_tokens") >= 25)
          .select(col("media_id"), col("width"), col("height"), col("n_tokens"))
          .orderBy("media_id")
      },
      Some(
        s"""WITH ${SearchQueries.tokCte},
           |tk AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
           |img AS (
           |  SELECT doc_id AS media_id,
           |    CAST(4 + doc_id % 16 AS INT) AS width,
           |    CAST(4 + (doc_id // 16) % 16 AS INT) AS height
           |  FROM documents WHERE doc_id % 3 = 0)
           |SELECT media_id, width, height, n_tokens
           |FROM img JOIN tk ON media_id = tk.doc_id
           |WHERE width * height >= 100 AND n_tokens >= 25
           |ORDER BY media_id""".stripMargin)),

    // mp4 metadata tier (round 15 — SURVEY §2.9's "GIF-only" video
    // caveat narrowed to decode-only): a real size-driven ISO-BMFF box
    // walk over synthesized minimal mp4 payloads (ftyp / id-sized free
    // boxes / moov(mvhd, free, trak(tkhd)×n)). The free boxes shift
    // every field to an id-dependent offset, so only a genuine walk can
    // decode; the oracle re-derives timescale/duration/track-count/dims
    // from the synthesis contract (the WAV/GIF playbook).
    GraftQuery("multimodal_mp4_meta",
      (s, d) => Multimodal.decodeMp4Meta(persistedMediaMp4(s, d))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(600 * (1 + doc_id % 4) AS INT) AS timescale,
          |  CAST(600 * (1 + doc_id % 4) * (1 + doc_id % 30) AS INT) AS duration,
          |  CAST(1 + doc_id % 3 AS INT) AS n_tracks,
          |  CAST(160 + 16 * (doc_id % 20) AS INT) AS width,
          |  CAST(120 + 16 * ((doc_id // 20) % 20) AS INT) AS height
          |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin)),

    // webm/EBML metadata tier (round 15 — the mp4 walk's sibling, so
    // BOTH real-corpus video containers carry metadata gates): a genuine
    // RFC 8794 EBML walk — element ids read at their leading-zero width,
    // sizes decoded as marker-stripped VINTs whose WIDTH the fixture
    // varies id-dependently (minimal or one wider), Void elements
    // shifting every field offset, Duration a real IEEE float64. Only a
    // parser that decodes the marker bits can track element boundaries;
    // the oracle re-derives every field from the synthesis contract.
    GraftQuery("multimodal_webm_meta",
      (s, d) => Multimodal.decodeWebmMeta(persistedMediaWebm(s, d))
        .orderBy("media_id"),
      Some(
        """SELECT doc_id AS media_id,
          |  CAST(100000 * (1 + doc_id % 5) AS INT) AS timescale,
          |  CAST(1000 * (1 + doc_id % 25) AS INT) AS duration,
          |  CAST(1 + (doc_id // 5) % 3 AS INT) AS n_tracks,
          |  CAST(320 + 8 * (doc_id % 40) AS INT) AS width,
          |  CAST(240 + 8 * ((doc_id // 40) % 25) AS INT) AS height
          |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin)),

    // Per-TRACK mp4 walk (round 16): handler type (mdia/hdlr), codec
    // fourcc (first stsd sample entry), audio channels + 16.16 sample
    // rate, video sample-entry dims — what a curation pipeline filters
    // on (e.g. "has an Opus audio track") before spending decode. The
    // free box inside minf keeps offsets id-dependent; odd slots video /
    // even audio per the shared mp4TrackParams contract.
    GraftQuery("multimodal_mp4_tracks",
      (s, d) => Multimodal.decodeMp4Tracks(persistedMediaMp4(s, d))
        .orderBy("media_id", "track_id"),
      Some(
        """SELECT doc_id AS media_id, CAST(t.t AS INT) AS track_id,
          |  CASE WHEN t.t % 2 = 0 THEN 'soun' ELSE 'vide' END AS handler,
          |  CASE WHEN t.t % 2 = 0 THEN
          |    CASE (doc_id // 7 + t.t) % 2 WHEN 0 THEN 'mp4a' ELSE 'Opus' END
          |  ELSE
          |    CASE (doc_id // 3 + t.t) % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1' ELSE 'av01' END
          |  END AS codec,
          |  CAST(CASE WHEN t.t % 2 = 0 THEN 1 + (doc_id + t.t) % 2 END AS INT) AS channels,
          |  CAST(CASE WHEN t.t % 2 = 0 THEN
          |    CASE (doc_id // 5 + t.t) % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
          |         WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
          |  END AS INT) AS sample_rate,
          |  CAST(CASE WHEN t.t % 2 = 1 THEN 160 + 16 * (doc_id % 20) END AS INT) AS width,
          |  CAST(CASE WHEN t.t % 2 = 1 THEN 120 + 16 * ((doc_id // 20) % 20) END AS INT) AS height
          |FROM documents, range(1, 4) t(t)
          |WHERE doc_id % 3 = 2 AND t.t <= 1 + doc_id % 3
          |ORDER BY media_id, track_id""".stripMargin)),

    // Per-TRACK webm walk (round 16) — the EBML twin: TrackNumber/
    // TrackType, the CodecID string (Matroska namespace), Audio
    // (SamplingFrequency float + Channels) for even slots, Video dims
    // for odd — same selector formulas as the mp4 tier, so the two
    // containers' track inventories are directly comparable.
    GraftQuery("multimodal_webm_tracks",
      (s, d) => Multimodal.decodeWebmTracks(persistedMediaWebm(s, d))
        .orderBy("media_id", "track_num"),
      Some(
        """SELECT doc_id AS media_id, CAST(t.t AS INT) AS track_num,
          |  CAST(CASE WHEN t.t % 2 = 0 THEN 2 ELSE 1 END AS INT) AS track_type,
          |  CASE WHEN t.t % 2 = 0 THEN
          |    CASE (doc_id // 7 + t.t) % 2 WHEN 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
          |  ELSE
          |    CASE (doc_id // 3 + t.t) % 3 WHEN 0 THEN 'V_VP8' WHEN 1 THEN 'V_VP9' ELSE 'V_AV1' END
          |  END AS codec_id,
          |  CAST(CASE WHEN t.t % 2 = 0 THEN 1 + (doc_id + t.t) % 2 END AS INT) AS channels,
          |  CAST(CASE WHEN t.t % 2 = 0 THEN
          |    CASE (doc_id // 5 + t.t) % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
          |         WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
          |  END AS INT) AS sample_rate,
          |  CAST(CASE WHEN t.t % 2 = 1 THEN 320 + 8 * (doc_id % 40) END AS INT) AS width,
          |  CAST(CASE WHEN t.t % 2 = 1 THEN 240 + 8 * ((doc_id // 40) % 25) END AS INT) AS height
          |FROM documents, range(1, 4) t(t)
          |WHERE doc_id % 3 = 2 AND t.t <= 1 + (doc_id // 5) % 3
          |ORDER BY media_id, track_num""".stripMargin)),

    // SPECTRAL audio fingerprint (round 15 — closes SURVEY §2.9's
    // "sign-structure, not spectral" gap): a fixed-point DFT over the
    // resampled common grid, every integer re-derived by the oracle from
    // the triangle/square synthesis contract and the SAME baked cosine
    // table (Multimodal.specCos). fp = significant-band bits, dom =
    // dominant bin, prof = normalized integer energy profile.
    GraftQuery("multimodal_audio_fp_spectral",
      (s, d) => Multimodal.decodeAudioSpectral(persistedMediaSpectral(s, d))
        .orderBy("media_id"),
      Some(
        s"""WITH $spectralCte
           |SELECT f.media_id, f.fp, f.dom, s.prof
           |FROM fps f JOIN prs s USING (media_id)
           |ORDER BY media_id""".stripMargin)),

    // Spectral near-dup: bit-flip pigeonhole over the 24-bit band
    // fingerprint (hamming <= 1) + exact L1 verify on the energy
    // profiles. The planted blind spot rides this gate: tri-vs-sq
    // partners share an identical 60-bit SIGN fingerprint (spec-pinned)
    // yet never pair here (hamming >= 2, L1 >= 184), while the same
    // content across sample rates always does (hamming <= 1, L1 <= 100).
    GraftQuery("multimodal_audio_neardup_spectral",
      (s, d) => Multimodal.spectralPairs(
          Multimodal.decodeAudioSpectral(persistedMediaSpectral(s, d)))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH $spectralCte,
           |scand AS (
           |  SELECT a.media_id AS doc_a, b.media_id AS doc_b,
           |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           |  FROM fps a JOIN fps b ON a.media_id < b.media_id
           |  WHERE bit_count(xor(a.fp, b.fp)) <= 1)
           |SELECT c.doc_a, c.doc_b, c.hamming,
           |  CAST(sum(abs(pa.p - pb.p)) AS BIGINT) AS l1
           |FROM scand c JOIN pr pa ON pa.media_id = c.doc_a
           |  JOIN pr pb ON pb.media_id = c.doc_b AND pb.k = pa.k
           |GROUP BY c.doc_a, c.doc_b, c.hamming
           |HAVING sum(abs(pa.p - pb.p)) <= 160
           |ORDER BY doc_a, doc_b""".stripMargin))
  )

  /** The spectral fixture + fixed-point DFT, replayed in SQL: samples
    * from the integer triangle/square contract (floor division exact in
    * DOUBLE — |v| <= 12000·22050 << 2^53), the DFT via the baked
    * 256-entry cosine table (sin = +192 quarter shift), the 2^19
    * down-shift as floor(x/524288.0) ≡ Math.floorDiv, energies in pure
    * BIGINT, profile division through HUGEINT.
    */
  def spectralCte: String = {
    val ctab = (0 until Multimodal.SpecWindow)
      .map(j => s"($j, ${Multimodal.specCos(j)})").mkString(", ")
    s"""spp AS (
       |  SELECT doc_id AS media_id,
       |    CASE ((doc_id // 3) % 12) % 3 WHEN 0 THEN 220 WHEN 1 THEN 392 ELSE 564 END AS f,
       |    CASE WHEN (((doc_id // 3) % 12) // 3) % 2 = 1 THEN 1 ELSE 0 END AS sq,
       |    CASE WHEN (((doc_id // 3) % 12) // 6) % 2 = 0 THEN 11025 ELSE 22050 END AS rate
       |  FROM documents WHERE doc_id % 3 = 1),
       |ctab(j, c) AS (VALUES $ctab),
       |smp AS MATERIALIZED (
       |  SELECT media_id, i,
       |    CAST(floor(CAST(CASE WHEN sq = 1
       |           THEN 12000 * rate * (CASE WHEN tt > 0 THEN 1 WHEN tt < 0 THEN -1 ELSE 0 END)
       |           ELSE 12000 * tt END AS DOUBLE) / rate) AS BIGINT) AS y
       |  FROM (
       |    SELECT media_id, rate, sq, t.i AS i,
       |      abs((4 * f * ((t.i * rate) // 22050)) % (4 * rate) - 2 * rate) - rate AS tt
       |    FROM spp, range(0, 256) t(i))),
       |ri AS MATERIALIZED (
       |  SELECT s.media_id, k.k,
       |    CAST(floor(sum(s.y * cc.c) / 524288.0) AS BIGINT) AS r,
       |    CAST(floor(sum(s.y * cs.c) / 524288.0) AS BIGINT) AS im
       |  FROM smp s
       |    CROSS JOIN range(1, 25) k(k)
       |    JOIN ctab cc ON cc.j = (k.k * s.i) % 256
       |    JOIN ctab cs ON cs.j = (k.k * s.i + 192) % 256
       |  GROUP BY s.media_id, k.k),
       |ek AS MATERIALIZED (SELECT media_id, k, r * r + im * im AS e FROM ri),
       |ett AS (SELECT media_id, max(e) AS mx, sum(e) AS tot FROM ek GROUP BY media_id),
       |fps AS MATERIALIZED (
       |  SELECT e.media_id,
       |    CAST(sum(CASE WHEN 16 * e.e > t.mx
       |             THEN CAST(1 AS BIGINT) << CAST(e.k - 1 AS INT) ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(min(CASE WHEN e.e = t.mx THEN e.k END) AS BIGINT) AS dom
       |  FROM ek e JOIN ett t USING (media_id) GROUP BY e.media_id),
       |pr AS MATERIALIZED (
       |  SELECT e.media_id, e.k,
       |    CAST(CAST(e.e AS HUGEINT) * 1024 // CAST(t.tot AS HUGEINT) AS BIGINT) AS p
       |  FROM ek e JOIN ett t USING (media_id)),
       |prs AS (
       |  SELECT media_id, string_agg(CAST(p AS VARCHAR), ' ' ORDER BY k) AS prof
       |  FROM pr GROUP BY media_id)""".stripMargin
  }

  /** DuckDB twin of Multimodal.decodeImageAHash: the synthesis contract's
    * pixel formula sampled on the same 6×10 integer grid, mean-threshold
    * bits packed identically.
    */
  /** DuckDB twin of Multimodal.gridPHash: pixel replay from the
    * synthesis contract (integer arithmetic), the driver-computed DCT
    * basis inlined as CAST(... AS DOUBLE) literals (shortest-decimal
    * round-trip — cos() never runs in either engine; a bare decimal
    * literal would parse as exact DECIMAL and drift an ulp), fixed-order
    * list_sum folds, median by row_number.
    */
  val phashCte: String = {
    // VARCHAR→DOUBLE, not a bare-literal cast: 17-digit decimals parse as
    // DECIMAL with an int repr past 2^53, and the direct DECIMAL→DOUBLE
    // conversion double-rounds (exact only by per-value luck — the Wilson
    // z² finding); strtod is single-step correctly rounded for every value
    val bas = graft.operators.Multimodal.dctBasis.zipWithIndex.map { case (row, u) =>
      s"($u, [${row.map(x => s"CAST('$x' AS DOUBLE)").mkString(", ")}])"
    }.mkString(", ")
    val prs = graft.operators.Multimodal.phashPairs
      .map { case (u, v, k) => s"($u, $v, $k)" }.mkString(", ")
    s"""WITH img AS (
       |  SELECT doc_id, CAST(4 + doc_id % 16 AS BIGINT) AS w,
       |    CAST(4 + (doc_id // 16) % 16 AS BIGINT) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |bas AS (SELECT * FROM (VALUES $bas) t(u, b)),
       |pr AS (SELECT * FROM (VALUES $prs) t(u, v, k)),
       |co AS MATERIALIZED (
       |  SELECT i.doc_id, p.k,
       |    floor(list_sum(list_transform(range(0, 64), j ->
       |      (CAST((((j % 8) * i.w // 8) * 31 + ((j // 8) * i.h // 8) * 7 + i.doc_id) % 256 AS DOUBLE)
       |        * ub.b[CAST(j % 8 AS INT) + 1]) * vb.b[CAST(j // 8 AS INT) + 1]))*1000000.0+0.5)/1000000.0 AS coef
       |  FROM img i, pr p, bas ub, bas vb
       |  WHERE ub.u = p.u AND vb.u = p.v),
       |md AS (
       |  SELECT doc_id, coef AS med FROM (
       |    SELECT doc_id, coef, row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
       |    FROM co) WHERE rn = 8),
       |ph AS (
       |  SELECT co.doc_id AS media_id,
       |    CAST(sum(CASE WHEN co.coef > md.med
       |             THEN CAST(1 AS BIGINT) << CAST(co.k AS INT) ELSE 0 END) AS BIGINT) AS phash
       |  FROM co JOIN md USING (doc_id) GROUP BY co.doc_id)""".stripMargin
  }

  val ahashCte: String =
    """WITH img AS (
      |  SELECT doc_id, CAST(4 + doc_id % 16 AS BIGINT) AS w,
      |    CAST(4 + (doc_id // 16) % 16 AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, gy * 6 + gx AS j,
      |    ((gx * w // 6) * 31 + (gy * h // 10) * 7 + doc_id) % 256 AS g
      |  FROM img, unnest(range(0, 6)) t1(gx), unnest(range(0, 10)) t2(gy)),
      |s AS (SELECT doc_id, sum(g) AS tot FROM px GROUP BY doc_id),
      |ah AS (
      |  SELECT px.doc_id AS media_id,
      |    CAST(sum(CASE WHEN 60 * g > tot
      |             THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM px JOIN s USING (doc_id) GROUP BY px.doc_id)""".stripMargin

  /** Integer replay of the audio sign fingerprint: the fixture's WAV is
    * sin(2π·f·i/rate)·12000 truncated to int16 with f = 220 + id%110 and
    * rate from the audioParams table, so sample i is strictly positive
    * iff 0 < (f·i) mod rate < rate/2 — whenever the residue is nonzero
    * the sample's magnitude is ≥ 3 (|sin| ≥ sin(2π/22050), ×12000), and
    * at residue 0 (or rate/2) the FP argument error (~1e-14 rad) puts
    * the truncated sample at exactly 0. No floating point anywhere.
    */
  val audioFpCte: String =
    """WITH audio AS (
      |  SELECT doc_id, 220 + doc_id % 110 AS f,
      |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
      |         WHEN 2 THEN 16000 ELSE 22050 END AS rate
      |  FROM documents WHERE doc_id % 3 = 1),
      |afp AS (
      |  SELECT doc_id AS media_id,
      |    CAST(sum(CASE WHEN (f * t.i) % rate > 0 AND 2 * ((f * t.i) % rate) < rate
      |             THEN CAST(1 AS BIGINT) << CAST(60 - t.i AS INT) ELSE 0 END) AS BIGINT) AS fp
      |  FROM audio, range(1, 61) t(i) GROUP BY doc_id)""".stripMargin

  /** Absolute-pitch twin of [[audioFpCte]]: bit i reads the sign at
    * source index (i·rate)//22050 — the nearest-neighbor resample's
    * integer index map, replayed exactly. The Scala side nulls the
    * fingerprint when any source index runs past the clip (src ≥ n,
    * monotone in i, so the i=60 index decides); the oracle models the
    * SAME guard against the synthesis contract's n = 64 + id%256
    * rather than relying on the fixture invariant n ≥ 61 holding
    * forever (round-14 advice — a shorter-clip fixture would otherwise
    * hash-fail confusingly as null-vs-non-null).
    */
  val audioFpAbsCte: String =
    """WITH audio AS (
      |  SELECT doc_id, 220 + doc_id % 110 AS f,
      |    64 + doc_id % 256 AS n,
      |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
      |         WHEN 2 THEN 16000 ELSE 22050 END AS rate
      |  FROM documents WHERE doc_id % 3 = 1),
      |afpa AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN (60 * max(rate)) // 22050 >= max(n) THEN NULL ELSE
      |    CAST(sum(CASE WHEN (f * ((t.i * rate) // 22050)) % rate > 0
      |               AND 2 * ((f * ((t.i * rate) // 22050)) % rate) < rate
      |             THEN CAST(1 AS BIGINT) << CAST(60 - t.i AS INT) ELSE 0 END) AS BIGINT)
      |    END AS fp
      |  FROM audio, range(1, 61) t(i) GROUP BY doc_id)""".stripMargin
}
