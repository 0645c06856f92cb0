package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (builder mandate): media payloads are
  * opaque `binary` columns beside a typed metadata struct; decode /
  * feature-extraction runs batched per partition. Decode coverage:
  * headers for PNG/JPEG/GIF/BMP/WAV and FULL sample decode for ALL
  * FIVE containers — BMP rasters, PCM WAV, PNG (JDK zlib inflate +
  * scanline unfiltering), GIF (pure-code LZW), and baseline JPEG
  * (pure-code Huffman + IDCT, [[JpegBaseline]]) — all via
  * [[MediaHeaders]], no external codec library. Only layouts outside
  * decoder coverage (progressive/arithmetic JPEG, 16-bit PNG,
  * interlaced GIF, float WAV, …) fall back to
  * [[MultimodalOps.decodeStub]] — a clearly-marked deterministic
  * fake whose rows carry kind='stub'.
  *
  * Scale posture: payload bytes never shuffle — metadata is derived
  * map-side and the per-frame fan-out is a generator (explode over a
  * bounded sequence), not a join. At 100 TB the binary column stays
  * in parquet until the decode stage touches it, one partition at a
  * time.
  */
object MultimodalOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** A decoded-media record produced by the (stubbed) codec. */
  case class MediaFeature(doc_id: Long, n_bytes: Int, width: Int,
    height: Int, n_frames: Int, checksum: Long)

  /** Media table synthesized from documents: the text payload cast to
    * a binary `content` column + typed metadata — the declared
    * multimodal column layout.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      col("text").cast("binary").as("content"),
      struct(
        lit("text/plain").as("mime"),
        col("source").as("origin"),
        col("n_chars").as("declared_bytes")).as("meta"))

  /** Declared metadata query: byte length + fake decoded dimensions,
    * all via integer expressions on the binary column (no stub needed
    * — this part is real in any deployment).
    */
  def q_media_meta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(
        col("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        (length(col("content")) % 640 + 1).cast("long").as("fake_width"),
        (length(col("content")) % 480 + 1).cast("long").as("fake_height"),
        (length(col("content")) % 5 + 1).cast("long").as("n_frames"))
      .orderBy("doc_id")

  /** STUB — the fallback for payloads OUTSIDE the real decoders'
    * coverage (progressive/arithmetic JPEG, 16-bit PNG, interlaced
    * GIF, float WAV, unrecognized containers). The dominant layout of
    * every container decodes for real: BMP rasters, PCM WAV samples,
    * PNG, GIF, and baseline JPEG pixels
    * ([[MediaHeaders.bmpPixels]] / [[MediaHeaders.wavSamples]] /
    * [[MediaHeaders.pngPixels]] / [[MediaHeaders.gifPixels]] /
    * [[MediaHeaders.jpegPixels]] via [[decodeContent]]).
    * Deterministic fake: dimensions and checksum derived from the
    * payload bytes. The mapPartitions plumbing around it (batching,
    * encoder, schema) is the real deliverable.
    */
  def decodeStub(docId: Long, payload: Array[Byte]): MediaFeature = {
    val n = payload.length
    var ck = 1125899906842597L // deterministic FNV-ish rolling checksum
    var i = 0
    while (i < n) { ck = ck * 31 + (payload(i) & 0xff); i += 1 }
    MediaFeature(docId, n, n % 640 + 1, n % 480 + 1, n % 5 + 1, ck)
  }

  /** Batched per-partition decode: the shape a real codec integration
    * takes (one codec instance per partition, streamed batches, typed
    * output). Returns a Dataset with a fixed schema downstream ops
    * can rely on.
    */
  def decodeFeatures(s: SparkSession, dir: String): Dataset[MediaFeature] = {
    import s.implicits._
    mediaTable(s, dir)
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // codec init would happen here, once per partition
        rows.map { case (id, bytes) => decodeStub(id, bytes) }
      }
  }

  /** A sniffed-media record: REAL container format + dimensions where
    * the header is recognized, stub-derived fields otherwise.
    */
  case class MediaInfo(doc_id: Long, format: String, width: Int,
    height: Int, n_bytes: Int)

  /** Header-sniffing decode stage: the same per-partition batched
    * shape as [[decodeFeatures]], but the format/dimension fields are
    * REAL for recognized containers ([[MediaHeaders]] — PNG/JPEG/GIF/
    * BMP/WAV, pure byte arithmetic, no codec library). Unrecognized
    * payloads fall back to the deterministic stub dimensions with
    * format 'unknown' — only pixel/sample decoding remains stubbed.
    */
  def sniffFeatures(media: DataFrame)(implicit s: SparkSession): Dataset[MediaInfo] = {
    import s.implicits._
    media
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          MediaHeaders.sniff(bytes) match {
            case Some(h) => MediaInfo(id, h.format, h.width, h.height,
              if (bytes == null) 0 else bytes.length)
            case None =>
              val f = decodeStub(id, if (bytes == null) Array.empty else bytes)
              MediaInfo(id, "unknown", f.width, f.height, f.n_bytes)
          }
        }
      }
  }

  /** One decoded payload: real sample data where the container is
    * uncompressed (BMP / PCM WAV), stub-derived fields otherwise.
    * `n_samples` = pixels for rasters, interleaved samples for audio;
    * `sample_checksum` is a rolling hash over the DECODED values (not
    * the container bytes), so a wrong pixel order / padding / sign
    * extension changes it.
    */
  case class DecodedContent(doc_id: Long, format: String, kind: String,
    width: Int, height: Int, n_samples: Int, sample_checksum: Long)

  private def rollingChecksum(vals: Array[Int]): Long = {
    var ck = 1125899906842597L
    var i = 0
    while (i < vals.length) { ck = ck * 31 + vals(i); i += 1 }
    ck
  }

  /** Full decode stage: same per-partition batched shape as
    * [[decodeFeatures]], but BMP, PNG, GIF, baseline-JPEG and PCM WAV
    * payloads yield their REAL decoded samples (MediaHeaders, no
    * external codec library); out-of-coverage / unrecognized payloads
    * fall back to the stub with kind 'stub'. MultimodalSpec pins
    * exact pixel/sample values on hand-built containers in all five
    * real formats.
    */
  def decodeContent(media: DataFrame)(implicit s: SparkSession): Dataset[DecodedContent] = {
    import s.implicits._
    media
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          def raster(fmt: String, r: MediaHeaders.Raster) =
            DecodedContent(id, fmt, "image", r.width, r.height,
              r.pixels.length, rollingChecksum(r.pixels))
          MediaHeaders.bmpPixels(bytes).map(raster("bmp", _))
            .orElse(MediaHeaders.pngPixels(bytes).map(raster("png", _)))
            .orElse(MediaHeaders.gifPixels(bytes).map(raster("gif", _)))
            .orElse(MediaHeaders.jpegPixels(bytes).map(raster("jpeg", _)))
            .orElse(MediaHeaders.wavSamples(bytes).map { p =>
              DecodedContent(id, "wav", "audio", p.sampleRate, p.channels,
                p.samples.length, rollingChecksum(p.samples))
            })
            .getOrElse {
              // outside decoder coverage (progressive/arithmetic JPEG,
              // 16-bit PNG, interlaced GIF, …) or unrecognized: header
              // dims are still real where the container is known;
              // sample decode is the stub (kind marks it)
              val f = decodeStub(id, if (bytes == null) Array.empty else bytes)
              MediaHeaders.sniff(bytes) match {
                case Some(h) => DecodedContent(id, h.format, "stub",
                  h.width, h.height, 0, f.checksum)
                case None => DecodedContent(id, "unknown", "stub",
                  f.width, f.height, 0, f.checksum)
              }
            }
        }
      }
  }

  /** Frame-sampling fan-out: one row per sampled frame index, bounded
    * by n_frames — generator-style (explode over sequence), the same
    * plan shape a video pipeline uses to fan a clip into frames.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    q_media_meta(s, dir)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  /** Declared twin of [[frameSample]] (oracle: unnest(range(n))). */
  def q_media_frames(s: SparkSession, dir: String): DataFrame =
    frameSample(s, dir)

  // ── resize + feature extraction (the post-decode stages) ──────────

  /** Thumbnail edge for [[nnResize]]-based features. */
  val thumbEdge = 8

  /** Nearest-neighbor resample of a decoded raster to tw×th,
    * center-sampling convention: output pixel x reads source column
    * ⌊(2x+1)·w / (2·tw)⌋ (integer arithmetic, always in range) —
    * declared so the resampled grid is engine- and float-free
    * reproducible.
    */
  private[graft] def nnResize(r: MediaHeaders.Raster,
    tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var y = 0
    while (y < th) {
      val sy = ((2 * y + 1) * r.height) / (2 * th)
      var x = 0
      while (x < tw) {
        val sx = ((2 * x + 1) * r.width) / (2 * tw)
        out(y * tw + x) = r.pixels(sy * r.width + sx)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Kind-specific extracted features for one media row: images get
    * an 8×8 nearest-neighbor thumbnail checksum + mean channel
    * intensity (exact integer sum, one rounded division); audio gets
    * zero-crossing count + RMS (exact Long sum of squares, one
    * rounded sqrt). Rows outside decoder coverage carry kind='stub'
    * and null features.
    */
  case class MediaFeats(doc_id: Long, format: String, kind: String,
    width: Int, height: Int, thumb_ck: Option[Long],
    mean_intensity: Option[Double], zcr: Option[Long],
    rms: Option[Double])

  private def round4(v: Double): Double =
    math.rint(v * 10000.0) / 10000.0

  private[graft] def imageFeats(id: Long, fmt: String,
    r: MediaHeaders.Raster): MediaFeats = {
    val thumb = nnResize(r, thumbEdge, thumbEdge)
    var sum = 0L
    var i = 0
    while (i < r.pixels.length) {
      val p = r.pixels(i)
      sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      i += 1
    }
    MediaFeats(id, fmt, "image", r.width, r.height,
      Some(rollingChecksum(thumb)),
      Some(round4(sum.toDouble / (3.0 * r.pixels.length))), None, None)
  }

  private[graft] def audioFeats(id: Long,
    p: MediaHeaders.Pcm): MediaFeats = {
    var zcr = 0L
    var ssq = 0L
    var i = 0
    while (i < p.samples.length) {
      val s = p.samples(i)
      ssq += s.toLong * s.toLong
      if (i > 0 && ((s < 0) != (p.samples(i - 1) < 0))) zcr += 1
      i += 1
    }
    val rms =
      if (p.samples.isEmpty) 0.0
      else round4(math.sqrt(ssq.toDouble / p.samples.length))
    MediaFeats(id, "wav", "audio", p.sampleRate, p.channels,
      None, None, Some(zcr), Some(rms))
  }

  /** Resize + feature-extract over any (doc_id, content) media frame:
    * per-partition batched decode ([[decodeContent]]'s boundary — the
    * byte-level work is not a Catalyst expression), then the
    * kind-specific features. Payload bytes never shuffle; each output
    * row is a constant-width scalar record.
    */
  def mediaFeatures(media: DataFrame)(implicit s: SparkSession)
    : Dataset[MediaFeats] = {
    import s.implicits._
    media.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          MediaHeaders.bmpPixels(bytes).map(imageFeats(id, "bmp", _))
            .orElse(MediaHeaders.pngPixels(bytes).map(imageFeats(id, "png", _)))
            .orElse(MediaHeaders.gifPixels(bytes).map(imageFeats(id, "gif", _)))
            .orElse(MediaHeaders.jpegPixels(bytes).map(imageFeats(id, "jpeg", _)))
            .orElse(MediaHeaders.wavSamples(bytes).map(audioFeats(id, _)))
            .getOrElse {
              val f = decodeStub(id, if (bytes == null) Array.empty else bytes)
              MediaFeats(id, "unknown", "stub", f.width, f.height,
                None, None, None, None)
            }
        }
      }
  }

  /** Cap on payload bytes wrapped into a synthesized container (the
    * fixture media column is document text, not real containers; the
    * declared query wraps each payload into a REAL container so the
    * real decode → resize → feature path runs at every scale).
    */
  private val wrapCap = 3 * 16 * 64 // ≤ 64 BMP rows of width 16

  /** Wrap payload bytes into a minimal REAL 24-bit bottom-up BMP:
    * width 16, 3 bytes/pixel (stride 48, already 4-aligned), height =
    * ⌈len/48⌉ capped at 64 rows, zero-padded. [[MediaHeaders.bmpPixels]]
    * decodes it like any other BMP — spec'd round-trip.
    */
  private[graft] def wrapBmp(payload: Array[Byte]): Array[Byte] = {
    val data = payload.take(wrapCap)
    val w = 16
    val stride = w * 3
    val h = math.max(1, (data.length + stride - 1) / stride)
    val out = new Array[Byte](54 + stride * h)
    def le4(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le4(2, out.length); le4(10, 54)
    le4(14, 40); le4(18, w); le4(22, h)
    out(26) = 1; out(28) = 24
    System.arraycopy(data, 0, out, 54, data.length)
    out
  }

  /** Wrap payload bytes into a minimal REAL 16-bit mono PCM WAV
    * (even-length prefix of the payload as little-endian samples).
    */
  private[graft] def wrapWav(payload: Array[Byte]): Array[Byte] = {
    val n = math.min(payload.length & ~1, wrapCap)
    val out = new Array[Byte](44 + n)
    def le4(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def ascii(off: Int, s: String): Unit =
      s.indices.foreach(i => out(off + i) = s.charAt(i).toByte)
    ascii(0, "RIFF"); le4(4, 36 + n); ascii(8, "WAVE")
    ascii(12, "fmt "); le4(16, 16)
    out(20) = 1 // PCM
    out(22) = 1 // mono
    le4(24, 8000); le4(28, 16000)
    out(32) = 2; out(34) = 16
    ascii(36, "data"); le4(40, n)
    System.arraycopy(payload, 0, out, 44, n)
    out
  }

  /** Declared rows-only query: the full encode → decode → resize →
    * feature-extract path over the fixture. The fixture's media
    * column is text bytes, not containers, so the query first wraps
    * each payload into a REAL container map-side (every 5th doc a
    * 16-bit PCM WAV, the rest 24-bit BMPs — [[wrapBmp]]/[[wrapWav]],
    * byte-exact round-trip spec'd), then [[mediaFeatures]] runs the
    * REAL decoders and the thumbnail/audio feature extractors on
    * every row at every scale — nothing on this path is the stub.
    * Rows-only by §2.12 (byte-level decode has no DuckDB twin);
    * MultimodalSpec pins resize/feature values exactly on hand-built
    * rasters and PCM.
    */
  // ── perceptual image near-dup (difference hash) ───────────────────

  /** dHash geometry: 9×8 grayscale thumbnail, 64 horizontal-gradient
    * bits, banded into 4×16-bit LSH keys; candidate pairs keep
    * hamming ≤ [[dhashMaxHamming]]. Like the SimHash text family the
    * banding is the declared candidate contract: a pair must agree on
    * ≥1 full 16-bit band (guaranteed complete for hamming ≤ 3 by
    * pigeonhole; a documented recall trade above that).
    */
  private[graft] val dhashMaxHamming = 10

  /** Band-bucket size cap — the [[graft.operators.TextOps.maxShingleDf]]
    * discipline applied to LSH buckets: a (band, key) bucket of m
    * members yields m²/2 candidate pairs, and low-entropy payloads
    * (flat-gradient thumbnails) pile into the same few keys — measured
    * 652M candidate pairs at sf10 with one 16,744-doc bucket before
    * this cap. Buckets above the cap are dropped from candidate
    * generation; with a 4×16-bit keyspace the post-cap candidate
    * volume has a HARD ceiling of #buckets·cap²/2 ≈ 5·10⁸ at ANY
    * corpus size (the keyspace is finite), and in practice is tiny.
    * The recall trade is declared, like every cap in the near-dup
    * family.
    */
  private[graft] val dhashBandCap = 64

  /** 64 dHash bits of a 9×8 grayscale grid (row-major, w=9), bit k =
    * [gray(x,y) > gray(x+1,y)] for k = 8y+x — returned as two 32-bit
    * halves in non-negative longs (the SimHash sign-bit convention).
    * Gray = r+g+b (no division: monotone in luminance, comparison
    * outcomes are scale-free).
    */
  private[graft] def dhashHalves(gray: Array[Int]): (Long, Long) = {
    var hi = 0L; var lo = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val k = y * 8 + x
        if (gray(y * 9 + x) > gray(y * 9 + x + 1)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  /** (doc_id, dh_hi, dh_lo) per decodable image row: per-partition
    * decode (the established non-Catalyst boundary), 9×8 nearest-
    * neighbor resample, gradient bits. Non-image rows are dropped.
    */
  private[graft] def dhashFrame(media: DataFrame)(implicit s: SparkSession)
    : DataFrame = {
    import s.implicits._
    media.select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val raster = MediaHeaders.bmpPixels(bytes)
            .orElse(MediaHeaders.pngPixels(bytes))
            .orElse(MediaHeaders.gifPixels(bytes))
            .orElse(MediaHeaders.jpegPixels(bytes))
          raster.map { r =>
            val thumb = nnResize(r, 9, 8)
            val gray = thumb.map(p =>
              ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff))
            val (hi, lo) = dhashHalves(gray)
            (id, hi, lo)
          }
        }
      }.toDF("doc_id", "dh_hi", "dh_lo")
  }

  /** The banded signature frame (doc_id, dh_hi, dh_lo, band, key)
    * that [[q_media_dhash]] buckets on.
    */
  private def dhashBanded(s: SparkSession, dir: String)
    : DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val wrapped = mediaTable(s, dir)
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, wrapBmp(if (bytes == null) Array.empty[Byte] else bytes))
      })
      .toDF("doc_id", "content")
    val sig = dhashFrame(wrapped)
    sig.select(col("doc_id"), col("dh_hi"), col("dh_lo"),
      posexplode(array(
        col("dh_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("dh_lo"), 16).bitwiseAND(lit(0xffffL)),
        col("dh_hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("dh_hi"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "key")))
  }

  /** Declared rows-only query: perceptual image near-dup — the
    * multimodal member of the near-dup family (n-gram/MinHash/SimHash
    * for text, cosine for embeddings, dHash for images). The fixture
    * payloads are wrapped into REAL BMPs map-side (like
    * [[q_media_features]]) so the real decode → resize → hash path
    * runs at every scale; then the pair search is pure DataFrame LSH:
    * 4×16-bit band buckets → bucket-size prune ([[dhashBandCap]]) →
    * self-join on (band, key) → exact hamming via bit_count(xor) —
    * payload bytes never shuffle, only (id, 2×long) signatures do.
    * Rows-only by §2.12 (byte-level decode has no DuckDB twin);
    * MultimodalSpec pins the hash bits on hand-built rasters and the
    * identical-payload banding guarantee.
    */
  def q_media_dhash(s: SparkSession, dir: String): DataFrame = {
    // bucket-size prune BEFORE the self-join ([[dhashBandCap]]): a
    // window count keeps the a/b sides' plans identical, so Spark's
    // exchange reuse still decodes the corpus once, not twice
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key")
    val banded = dhashBanded(s, dir)
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= dhashBandCap)
      .drop("__bsz")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        (bit_count(col("a.dh_hi").bitwiseXOR(col("b.dh_hi"))) +
          bit_count(col("a.dh_lo").bitwiseXOR(col("b.dh_lo"))))
          .cast("long").as("hamming"))
      .distinct()
    cand.filter(col("hamming") <= dhashMaxHamming)
      .orderBy("ia", "ib")
  }

  def q_media_features(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val wrapped = mediaTable(s, dir)
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val b = if (bytes == null) Array.empty[Byte] else bytes
        (id, if (id % 5 == 0) wrapWav(b) else wrapBmp(b))
      })
      .toDF("doc_id", "content")
    mediaFeatures(wrapped).toDF()
      .select(col("doc_id"), col("format"), col("kind"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("thumb_ck"), col("mean_intensity"), col("zcr"), col("rms"))
      .orderBy("doc_id")
  }
}
