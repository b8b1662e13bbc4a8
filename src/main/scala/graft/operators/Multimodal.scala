package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, batch decode / feature extraction via
  * `mapPartitions` over a typed Dataset (the JVM analog of arrow-batched
  * pandas UDFs: one decoder instantiation per partition, streamed
  * iterator, no per-row setup).
  *
  * Two decoder/resizer implementations ship behind the same trait:
  * [[RealMediaDecoder]]/[[RealMediaResizer]] decode actual images on the
  * JDK's own `javax.imageio` codecs (PNG/JPEG/GIF/BMP — no external
  * libraries) with a real 8×8 average-hash as the perceptual fingerprint;
  * [[FakeMediaDecoder]]/[[FakeMediaResizer]] derive everything
  * deterministically from the bytes, for the synthetic text-as-payload
  * corpus whose payloads are not images. Audio/video codecs remain out of
  * scope for this container. Everything Spark-side — schema, binary
  * column plumbing, partition batching, typed encoders, frame-sampling
  * expansion — is shared between the two and tested with both.
  */
object Multimodal {

  /** Typed metadata carried next to the opaque payload. */
  final case class MediaMeta(
      size_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class MediaRow(doc_id: Long, media: Array[Byte], format: String)
  final case class MediaFeatures(
      doc_id: Long,
      meta: MediaMeta,
      phash: Long)

  /** Per-partition batch decoder (one instance per partition — model/codec
    * initialization cost is amortized like a pandas UDF's). */
  trait MediaDecoder extends Serializable {
    def name: String
    def decodeBatch(batch: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** Real image decode on the JDK's own codecs (`javax.imageio`: PNG,
    * JPEG, GIF, BMP — no external libraries). Metadata comes from the
    * decoded raster; `phash` is a genuine 64-bit average-hash (8×8
    * grayscale downsample, threshold at the mean — the standard aHash),
    * so visually identical images collide and unrelated ones do not.
    * Undecodable payloads fail loudly with the doc id — a silent skip
    * would corrupt downstream joins. Still images carry duration 0. */
  object RealMediaDecoder extends MediaDecoder {
    val name = "imageio"
    def decodeBatch(batch: Iterator[MediaRow]): Iterator[MediaFeatures] =
      batch.map { r =>
        val img = decodeImage(r)
        MediaFeatures(
          doc_id = r.doc_id,
          meta = MediaMeta(
            size_bytes = r.media.length.toLong,
            format = r.format,
            width = img.getWidth,
            height = img.getHeight,
            duration_ms = 0L),
          phash = averageHash(img))
      }
  }

  private def decodeImage(r: MediaRow): java.awt.image.BufferedImage = {
    val img =
      if (r.media.isEmpty) null
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
    if (img == null)
      throw new IllegalArgumentException(
        s"undecodable ${r.format} payload for doc_id=${r.doc_id} " +
          s"(${r.media.length} bytes)")
    img
  }

  /** 8×8 average-hash: downsample to 8×8 luma, set bit i when pixel i is
    * above the mean. 64 bits, MSB = pixel (0,0). */
  def averageHash(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 8, 8, null)
    } finally g.dispose()
    val luma = Array.tabulate(64) { i =>
      val rgb = small.getRGB(i % 8, i / 8)
      // integer BT.601 luma — deterministic across JVMs (no float rounding)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
        114 * (rgb & 0xff)) / 1000
    }
    val mean = luma.sum / 64
    luma.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
      if (v > mean) acc | (1L << (63 - i)) else acc
    }
  }

  /** Deterministic fake: derives metadata purely from the bytes, so tests
    * and oracles are exact while exercising the full batch path. */
  object FakeMediaDecoder extends MediaDecoder {
    val name = "fake"
    def decodeBatch(batch: Iterator[MediaRow]): Iterator[MediaFeatures] =
      batch.map { r =>
        val h = bytesHash60(r.media)
        MediaFeatures(
          doc_id = r.doc_id,
          meta = MediaMeta(
            size_bytes = r.media.length.toLong,
            format = r.format,
            width = (h % 1280L).toInt,
            height = (h / 1280L % 720L).toInt,
            duration_ms = r.media.length.toLong * 40L),
          phash = h)
      }
  }

  /** 1-D average-hash over a byte payload — [[averageHash]]'s exact
    * algorithm applied to a 1-D signal: the payload splits into `bits`
    * equal segments and bit (bits−1−j) is set iff segment j's mean
    * exceeds the global mean (strictly, compared by exact int64
    * cross-multiplication — no division anywhere). LOCALITY-PRESERVING
    * like the 2-D aHash: a small edit moves a few segment means, so
    * near-identical payloads land at small Hamming distance — which is
    * what [[LocalityFakeMediaDecoder]] needs so the m5 perceptual-dedup
    * query demonstrates real near-dup geometry on the text-as-payload
    * corpus while staying exactly replayable by the DuckDB oracle.
    * 60 bits so every band value and the hash itself stay positive. */
  def ahash1d(bytes: Array[Byte], bits: Int = 60): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var tot = 0L
    var i = 0
    while (i < n) { tot += (bytes(i) & 0xff); i += 1 }
    var h = 0L
    var j = 0
    while (j < bits) {
      val lo = (j.toLong * n / bits).toInt
      val hi = ((j + 1).toLong * n / bits).toInt
      var ss = 0L
      i = lo
      while (i < hi) { ss += (bytes(i) & 0xff); i += 1 }
      if (hi > lo && ss * n > tot * (hi - lo)) h |= 1L << (bits - 1 - j)
      j += 1
    }
    h
  }

  /** [[FakeMediaDecoder]] with a LOCALITY-PRESERVING perceptual hash
    * ([[ahash1d]]) instead of the md5-60: the m5 image-dedup stage needs
    * near-identical payloads to land NEAR each other in Hamming space
    * (the property the real [[averageHash]] has on pixels), which a
    * cryptographic hash destroys by design. Metadata stays byte-derived
    * exactly like the plain fake. */
  object LocalityFakeMediaDecoder extends MediaDecoder {
    val name = "fake-ahash"
    def decodeBatch(batch: Iterator[MediaRow]): Iterator[MediaFeatures] =
      batch.map { r =>
        val h = bytesHash60(r.media)
        MediaFeatures(
          doc_id = r.doc_id,
          meta = MediaMeta(
            size_bytes = r.media.length.toLong,
            format = r.format,
            width = (h % 1280L).toInt,
            height = (h / 1280L % 720L).toInt,
            duration_ms = r.media.length.toLong * 40L),
          phash = ahash1d(r.media))
      }
  }

  /** Banded Hamming self-join over a perceptual-hash column — the
    * LAION-style image near-dup stage: d4's simhash banding applied to
    * [[averageHash]]/[[ahash1d]] fingerprints. Two hashes within
    * `maxHamming` bits share SOME contiguous `bandBits`-bit band with
    * high probability (pigeonhole guarantees it when
    * maxHamming < bands), so candidates come from `bands` equi-joins on
    * the band values — shuffle by (band, value), NEVER all-pairs; the
    * exact `bit_count(xor)` verify runs only on collisions. At corpus
    * scale this is the same shape as d5: candidate volume is
    * n²·bands/2^bandBits chance pairs plus the true near-dups — linear
    * for bandBits ~ log₂ n.
    *
    * @param features (doc_id, phash) — any perceptual hash whose bit
    *                 positions all sit below bands·bandBits
    * @return (doc_a, doc_b, hamming), doc_a < doc_b, each pair once */
  def phashNearDupPairs(features: DataFrame, bands: Int = 4,
      bandBits: Int = 15, maxHamming: Int = 12): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 64,
      s"bands x bandBits must fit one long: $bands x $bandBits")
    val mask = (1L << bandBits) - 1L
    val sigs = features.select(col("doc_id"), col("phash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("phash"), b * bandBits)
          .bitwiseAND(lit(mask))): _*)).as(Seq("band_idx", "band_val")))
      // referenced by both self-join legs: pin + materialize (the r8
      // cache contract) so the upstream decode runs once, not per leg
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    sigs.as("a").join(sigs.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming) // verify BEFORE the dedup
      .distinct()
  }

  /** Same 60-bit md5 hash as [[XHash.hash60]], computed JVM-side. */
  def bytesHash60(bytes: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(bytes).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** documents → opaque media rows (payload = utf8 bytes; a stand-in for
    * real image/audio blobs with identical plumbing). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("media"),
      col("source").as("format")).as[MediaRow]
  }

  /** The batch decode operator: typed mapPartitions, decoder instantiated
    * once per partition. */
  def decodeFeatures(media: Dataset[MediaRow], decoder: MediaDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(batch => decoder.decodeBatch(batch))
  }

  /** A resized media payload (binary stays opaque; dims move to metadata). */
  final case class ResizedMedia(
      doc_id: Long, media: Array[Byte], width: Int, height: Int)

  /** Batch resize — same per-partition amortization contract as
    * [[MediaDecoder]]. */
  trait MediaResizer extends Serializable {
    def resizeBatch(batch: Iterator[MediaRow], w: Int, h: Int): Iterator[ResizedMedia]
  }

  /** Real pixel scaling: decode (JDK ImageIO), bilinear Graphics2D
    * rescale, re-encode as PNG (lossless — a resize must not also be a
    * recompress decision). Headless-safe: BufferedImage rendering needs
    * no display. */
  object RealMediaResizer extends MediaResizer {
    def resizeBatch(batch: Iterator[MediaRow], w: Int, h: Int): Iterator[ResizedMedia] =
      batch.map { r =>
        val img = decodeImage(r)
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val bytes = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bytes)
        ResizedMedia(r.doc_id, bytes.toByteArray, w, h)
      }
  }

  /** Deterministic fake: payload truncated/cycled to the byte budget a
    * w×h thumbnail would occupy — size-realistic, content-deterministic.
    * An empty payload resizes to an empty payload (no modulo on a
    * zero-length array). */
  object FakeMediaResizer extends MediaResizer {
    def resizeBatch(batch: Iterator[MediaRow], w: Int, h: Int): Iterator[ResizedMedia] =
      batch.map { r =>
        val budget = math.max(1, w * h / 8)
        val out =
          if (r.media.isEmpty) Array.emptyByteArray
          else Array.tabulate[Byte](math.min(budget, r.media.length))(
            i => r.media(i % r.media.length))
        ResizedMedia(r.doc_id, out, w, h)
      }
  }

  /** The resize operator: typed mapPartitions over the opaque payloads —
    * schema, batching and partitioning identical to the real path. */
  def resize(
      media: Dataset[MediaRow], w: Int, h: Int,
      resizer: MediaResizer): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(batch => resizer.resizeBatch(batch, w, h))
  }

  // ---- audio ------------------------------------------------------------

  final case class AudioRow(doc_id: Long, audio: Array[Byte])

  /** One fixed-size analysis frame: exact int64 RMS (floor) and peak over
    * the frame's samples — the windowed-feature shape every audio
    * pipeline (VAD, loudness normalization, silence trim) starts from. */
  final case class AudioFrame(
      doc_id: Long, frame_idx: Long, n_samples: Long, rms_q: Long, peak_q: Long)

  /** Per-partition batch audio decoder — same amortization contract as
    * [[MediaDecoder]]. */
  trait AudioDecoder extends Serializable {
    def name: String
    def decodeBatch(batch: Iterator[AudioRow],
        frameSamples: Int): Iterator[AudioFrame]
  }

  /** Frame rollup shared by both decoders: sum-of-squares and peak are
    * exact int64 (32767² × frame length ≪ 2⁶³); rms is floor(sqrt(mean
    * square)) — the double sqrt of an exact small int is correctly
    * rounded IEEE in every engine, and floor cannot flip on non-squares
    * at these magnitudes, so the value is deterministic. */
  private def frameStats(docId: Long, samples: Array[Int],
      frameSamples: Int): Iterator[AudioFrame] =
    samples.grouped(frameSamples).zipWithIndex.map { case (fr, i) =>
      var sumSq = 0L
      var peak = 0L
      fr.foreach { s =>
        sumSq += s.toLong * s.toLong
        peak = math.max(peak, math.abs(s.toLong))
      }
      AudioFrame(docId, i.toLong, fr.length.toLong,
        math.floor(math.sqrt((sumSq / fr.length).toDouble)).toLong, peak)
    }

  /** Real audio decode: RIFF/WAVE PCM16 parsed directly from the byte
    * layout (chunk walk → fmt → data; little-endian int16 samples,
    * multi-channel averaged in integer math) — no external codec
    * libraries, same zero-dependency stance as the ImageIO image path.
    * Compressed formats stay out of scope for this container; undecodable
    * payloads fail loudly with the doc id. */
  object RealWavDecoder extends AudioDecoder {
    val name = "wav-pcm16"
    def decodeBatch(batch: Iterator[AudioRow],
        frameSamples: Int): Iterator[AudioFrame] =
      batch.flatMap(r => frameStats(r.doc_id, parsePcm16(r.audio, r.doc_id),
        frameSamples))
  }

  /** RIFF/WAVE PCM16 → channel-averaged int samples. */
  def parsePcm16(bytes: Array[Byte], docId: Long): Array[Int] = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"undecodable audio payload for doc_id=$docId: $msg (${bytes.length} bytes)")
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def s16(o: Int): Int = u16(o).toShort.toInt
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (bytes.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      fail("not a RIFF/WAVE stream")
    var off = 12
    var nCh = 0
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= bytes.length) {
      val id = tag(off)
      val sz = u32(off + 4).toInt
      if (id == "fmt ") {
        if (u16(off + 8) != 1) fail(s"not PCM (format ${u16(off + 8)})")
        nCh = u16(off + 10)
        if (u16(off + 22) != 16) fail(s"${u16(off + 22)}-bit, want 16")
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = math.min(sz, bytes.length - dataOff)
      }
      off += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (nCh <= 0 || dataOff < 0) fail("missing fmt/data chunk")
    val nFrames = dataLen / (2 * nCh)
    Array.tabulate(nFrames) { f =>
      var acc = 0L
      var c = 0
      while (c < nCh) { acc += s16(dataOff + 2 * (f * nCh + c)); c += 1 }
      (acc / nCh).toInt
    }
  }

  /** Deterministic fake for the text-payload corpus: every byte is one
    * centered int8 sample (b − 64 — the corpus is ASCII, so this is what
    * the oracle's `ascii(substr(…)) − 64` reproduces exactly). The Spark
    * path — typed Dataset, mapPartitions batching, frame rollup — is the
    * REAL one; only the codec is substituted. */
  object FakeAudioDecoder extends AudioDecoder {
    val name = "fake-int8"
    def decodeBatch(batch: Iterator[AudioRow],
        frameSamples: Int): Iterator[AudioFrame] =
      batch.flatMap { r =>
        frameStats(r.doc_id, r.audio.map(b => (b & 0xff) - 64), frameSamples)
      }
  }

  /** The batch audio-frame operator: typed mapPartitions, decoder
    * instantiated once per partition. */
  def audioFrames(media: Dataset[AudioRow], decoder: AudioDecoder,
      frameSamples: Int): Dataset[AudioFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(batch => decoder.decodeBatch(batch, frameSamples))
  }

  /** documents → opaque audio rows (payload = utf8 bytes; the stand-in
    * contract matching [[mediaFromDocuments]]). */
  def audioFromDocuments(docs: DataFrame): Dataset[AudioRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("audio"))
      .as[AudioRow]
  }

  /** Frame sampling: one output row per sampled frame timestamp —
    * `posexplode(sequence(...))` keeps it codegen'd and distributed. */
  def frameSample(features: DataFrame, fps: Double = 1.0): DataFrame = {
    val stepMs = math.round(1000.0 / fps)
    features
      .withColumn("frame_idx",
        explode(sequence(lit(0L), expr(s"duration_ms div $stepMs"))))
      .withColumn("frame_ts_ms", col("frame_idx") * lit(stepMs))
  }

  // ---- video containers (m4) ---------------------------------------------

  final case class VideoRow(doc_id: Long, video: Array[Byte])
  final case class VideoKeyFrame(
      doc_id: Long, frame_idx: Long, n_bytes: Long, sum_b: Long, max_b: Long)

  /** Minimal length-prefixed frame container ("GVID"): magic, u32le
    * frame count, then per frame u32le length + payload. The REAL
    * container format the m4 parser walks — the m3 precedent (RIFF/PCM16)
    * applied to the video case: container walking is the Spark-side
    * machinery under test; frame CONTENT decoding would need codec
    * libraries this environment doesn't ship, so frame features are
    * byte-level (exactly what the oracle can replay). */
  def packGvid(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u32le(v: Int): Unit =
      out.write(Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte))
    out.write("GVID".getBytes("US-ASCII"))
    u32le(frames.length)
    frames.foreach { f => u32le(f.length); out.write(f) }
    out.toByteArray
  }

  /** GVID container → frame payloads; undecodable payloads fail loudly
    * with the doc id (m3's stance). */
  def parseGvid(bytes: Array[Byte], docId: Long): Array[Array[Byte]] = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"undecodable video payload for doc_id=$docId: $msg (${bytes.length} bytes)")
    def u32(o: Int): Long =
      (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (bytes.length < 8 || new String(bytes, 0, 4, "US-ASCII") != "GVID")
      fail("not a GVID container")
    val n = u32(4)
    if (n < 0 || n > Int.MaxValue) fail(s"bad frame count $n")
    var off = 8
    val frames = Array.newBuilder[Array[Byte]]
    var i = 0L
    while (i < n) {
      if (off + 4 > bytes.length) fail(s"truncated at frame $i header")
      val len = u32(off).toInt
      off += 4
      if (len < 0 || off + len > bytes.length)
        fail(s"truncated at frame $i payload ($len bytes)")
      frames += java.util.Arrays.copyOfRange(bytes, off, off + len)
      off += len
      i += 1
    }
    if (off != bytes.length) fail(s"${bytes.length - off} trailing bytes")
    frames.result()
  }

  /** Keyframe extraction: walk the container, keep every `everyK`-th
    * frame, emit exact byte-level features (count, sum, max of unsigned
    * byte values) — mapPartitions batch, one parser per partition. */
  def videoKeyFrames(media: Dataset[VideoRow],
      everyK: Int = 3): Dataset[VideoKeyFrame] = {
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseGvid(r.video, r.doc_id).iterator.zipWithIndex
        .filter(_._2 % everyK == 0)
        .map { case (f, i) =>
          var sum = 0L
          var max = 0L
          f.foreach { b => val v = (b & 0xff).toLong; sum += v; max = math.max(max, v) }
          VideoKeyFrame(r.doc_id, i.toLong, f.length.toLong, sum, max)
        }
    })
  }

  /** documents → REAL GVID containers over the utf8 payload, frame size
    * 16 + 8·(doc_id % 3) bytes (last frame short) — deterministic, so
    * the oracle replays the byte arithmetic while the Spark path walks
    * genuinely packed binary. */
  def videoFromDocuments(docs: DataFrame): Dataset[VideoRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val fs = 16 + 8 * (id % 3).toInt
        VideoRow(id, packGvid(payload.grouped(fs).toSeq))
      }
  }
}
