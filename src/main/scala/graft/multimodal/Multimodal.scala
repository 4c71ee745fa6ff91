package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata. IMAGE decode is REAL (`javax.imageio` ships in the
  * JDK: PNG / BMP / GIF / JPEG) and AUDIO decode is REAL for WAV/PCM
  * (`javax.sound.sampled`, also pure JDK), both selected by magic-byte
  * sniff; payloads that are neither fall back to a clearly-marked
  * deterministic stub (a byte histogram — video codecs do not exist
  * in this container). Everything Spark-side — schema, batching,
  * partition-parallel execution via mapPartitions (the Scala analogue of
  * mapInPandas), frame sampling — is real and tested.
  *
  * At 100 TB these run as per-partition streaming iterators: no
  * collect-to-driver, no shuffle; binary payloads flow through Tungsten rows
  * batch by batch.
  */
object Multimodal {

  /** Cheap magic-byte sniff — gates the (reader-discovery, stream-setup)
    * cost of ImageIO to payloads that can actually be one of the JDK's
    * built-in formats. PNG \x89PNG, BMP "BM", GIF "GIF8", JPEG \xFF\xD8\xFF. */
  private[multimodal] def looksLikeImage(p: Array[Byte]): Boolean =
    p != null && p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 'B' && p(1) == 'M') || hasMagic(p, 0, "GIF8") ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte))

  /** Whether `p` holds the bytes of the ASCII `magic` at offset `at`. */
  private def hasMagic(p: Array[Byte], at: Int, magic: String): Boolean =
    p.length >= at + magic.length &&
      magic.indices.forall(i => p(at + i) == magic(i))

  /** RIFF sniff: "RIFF" at 0 and the 4-byte `form` at 8. */
  private def looksLikeRiff(p: Array[Byte], form: String): Boolean =
    p != null && p.length >= 12 && hasMagic(p, 0, "RIFF") &&
      hasMagic(p, 8, form)

  /** Real image decode: normalized luminance histogram (integer-scaled
    * BT.601 weights) over all pixels. Returns null if the payload is not
    * decodable after all (truncated file, exotic sub-format) — callers
    * fall back to the byte-histogram stub so a corrupt image degrades to
    * a weaker feature instead of failing the partition. */
  private[multimodal] def lumHistogram(payload: Array[Byte], bins: Int)
      : Array[Double] = {
    // NonFatal, not just IOException: ImageIO readers throw RuntimeExceptions
    // (IllegalArgumentException, CMMException, IndexOutOfBounds) on malformed
    // payloads that pass the magic-byte sniff
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    lumHistOf(img, bins)
  }

  /** Luminance histogram of one decoded frame (shared by the single-image
    * and the multi-frame GIF paths). */
  private[multimodal] def lumHistOf(img: java.awt.image.BufferedImage,
      bins: Int): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    if (w <= 0 || h <= 0) return null
    val hist = new Array[Double](bins)
    val scan = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, scan, 0, w)
      var x = 0
      while (x < w) {
        val rgb = scan(x)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum * bins / 256) += 1.0
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    var i = 0
    while (i < bins) { hist(i) /= n; i += 1 }
    hist
  }

  /** WAV sniff: RIFF container carrying a WAVE form ("RIFF" at 0, "WAVE"
    * at 8). Gates the javax.sound.sampled decode path. */
  private[graft] def looksLikeWav(p: Array[Byte]): Boolean =
    looksLikeRiff(p, "WAVE")

  /** Real WAV/PCM audio decode via the JDK's `javax.sound.sampled` (no
    * native codecs needed for PCM): returns the mono-mixed samples
    * normalized to [-1, 1] plus the sample rate, or null if the payload is
    * not decodable after all (truncated/corrupt RIFF, non-PCM sub-format).
    * Handles the standard WAV encodings — 8-bit unsigned and 16-bit
    * signed PCM, any channel count, either endianness. */
  private[graft] def decodePcm(payload: Array[Byte])
      : (Array[Double], Float) = {
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        val channels = fmt.getChannels
        val bytesPer = bits / 8
        val enc = fmt.getEncoding
        val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val unsigned =
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        if (!(signed || unsigned) || (bits != 8 && bits != 16) ||
          channels <= 0) return null
        val raw = in.readAllBytes()
        val frameBytes = bytesPer * channels
        val nFrames = raw.length / frameBytes
        val out = new Array[Double](nFrames)
        var f = 0
        while (f < nFrames) {
          var acc = 0.0
          var c = 0
          while (c < channels) {
            val off = f * frameBytes + c * bytesPer
            val v =
              if (bits == 8) {
                if (signed) raw(off).toDouble / 128.0
                else ((raw(off) & 0xff) - 128).toDouble / 128.0
              } else {
                val (lo, hi) =
                  if (fmt.isBigEndian) (raw(off + 1), raw(off))
                  else (raw(off), raw(off + 1))
                val s = ((hi.toInt << 8) | (lo & 0xff)).toShort
                if (signed) s.toDouble / 32768.0
                else (((s & 0xffff) - 32768)).toDouble / 32768.0
              }
            acc += v
            c += 1
          }
          out(f) = acc / channels
          f += 1
        }
        (out, fmt.getSampleRate)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** The (width, height, n_frames) metadata of a media row. */
  private val metaField = StructField("meta", StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false))),
    nullable = false)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true), metaField))

  /** Synthesize a media table from any keyed string column: payload =
    * UTF-8 bytes (a deterministic fake "encoded image"), metadata derived
    * from the key. Stands in for `spark.read.format("binaryFile")`. */
  def fakeMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      (when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        (col(idCol) % 64 + 1).cast("int").as("width"),
        (col(idCol) % 48 + 1).cast("int").as("height"),
        (col(idCol) % 16 + 1).cast("int").as("n_frames")).as("meta"))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false),
      nullable = true)))

  /** Per-partition "decode + featurize" over binary payloads — the Scala
    * analogue of a Pandas UDF over mapInPandas: one iterator per partition,
    * constant memory, no driver round-trip.
    *
    * Payloads whose magic bytes mark a JDK-decodable image (PNG / BMP /
    * GIF / JPEG) are REALLY decoded via `javax.imageio` and featurized as
    * a normalized luminance histogram. WAV payloads (RIFF/WAVE) are REALLY
    * decoded via `javax.sound.sampled` and featurized as a normalized
    * amplitude histogram over the mono-mixed [-1, 1] samples — same
    * fixed-width feature shape as images.
    *
    * Multi-frame video containers: animated GIFs decode for real via
    * [[videoFrameFeatures]] (ImageIO frame enumeration).
    *
    * ===== STUB (non-GIF video / other payloads) =====
    * MP4/WebM codecs are unavailable in this container, so every
    * remaining payload gets a deterministic fake decode: a normalized
    * byte histogram. Same schema either way; the plumbing (schema,
    * batching, partitioning) is identical for all paths.
    */
  def decodeAndFeaturize(media: DataFrame, bins: Int = 8): DataFrame =
    mapPayloads(media, featureSchema) { (id, payload) =>
      if (payload == null) Row(id, 0L, null)
      else {
        val decoded =
          if (looksLikeImage(payload)) lumHistogram(payload, bins)
          else if (looksLikeWav(payload)) {
            val pcm = decodePcm(payload)
            if (pcm == null) null
            else {
              val (samples, _) = pcm
              val h = new Array[Double](bins)
              samples.foreach { s =>
                val b = (((s + 1.0) / 2.0) * bins).toInt
                h(math.min(math.max(b, 0), bins - 1)) += 1.0
              }
              val n = samples.length.toDouble.max(1.0)
              var i = 0
              while (i < bins) { h(i) /= n; i += 1 }
              h
            }
          } else null
        val hist = if (decoded != null) decoded else {
          val h = new Array[Double](bins)
          payload.foreach(b => h((b & 0xff) * bins / 256) += 1.0)
          val n = payload.length.toDouble.max(1.0)
          h.map(_ / n)
        }
        Row(id, payload.length.toLong, hist.toSeq)
      }
    }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", DoubleType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("rms", DoubleType, nullable = true),
    StructField("zero_crossing_rate", DoubleType, nullable = true)))

  /** Real audio featurization over WAV/PCM payloads: sample rate, sample
    * count, RMS amplitude, and zero-crossing rate of the mono-mixed
    * signal. Non-WAV or undecodable payloads emit nulls (the row survives;
    * the decode degrades, the partition doesn't fail). Per-partition
    * streaming like [[decodeAndFeaturize]] — no shuffle, no driver
    * round-trip, constant memory at any corpus size. */
  def audioFeatures(media: DataFrame): DataFrame =
    mapPayloads(media, audioFeatureSchema) { (id, payload) =>
      val pcm = if (looksLikeWav(payload)) decodePcm(payload) else null
      if (pcm == null) Row(id, null, null, null, null)
      else {
        val (s, rate) = pcm
        val n = s.length
        var sumSq = 0.0
        var crossings = 0L
        var i = 0
        while (i < n) {
          sumSq += s(i) * s(i)
          if (i > 0 && ((s(i - 1) < 0.0) != (s(i) < 0.0))) crossings += 1
          i += 1
        }
        val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
        val zcr = if (n > 1) crossings.toDouble / (n - 1) else 0.0
        Row(id, rate.toDouble, n.toLong, rms, zcr)
      }
    }

  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("resized", BinaryType, nullable = true), metaField))

  /** Resize: nearest-neighbor resample of the payload interpreted as a
    * row-major `meta.width x meta.height` byte grid (what the stub decode
    * produces) to `outW x outH`. The sampling arithmetic is the real
    * nearest-neighbor kernel — only the "pixels are raw payload bytes"
    * premise is the stub (a codec build would decode first). Runs
    * per-partition, constant memory, output metadata carries the new
    * dimensions. */
  def resize(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "resize target must be positive")
    val enc = org.apache.spark.sql.Encoders.row(resizedSchema)
    media.select(col("media_id"), col("kind"), col("payload"),
      col("meta.width"), col("meta.height"), col("meta.n_frames"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (id, kind) = (r.getLong(0), r.getString(1))
          val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          val (w, h, nf) = (r.getInt(3), r.getInt(4), r.getInt(5))
          val outMeta = Row(outW, outH, nf)
          if (payload == null || w <= 0 || h <= 0) Row(id, kind, null, outMeta)
          else {
            val out = Array.tabulate[Byte](outW * outH) { p =>
              val (x2, y2) = (p % outW, p / outW)
              val idx = (y2 * h / outH) * w + (x2 * w / outW)
              if (idx < payload.length) payload(idx) else 0
            }
            Row(id, kind, out, outMeta)
          }
        }
      }(enc)
  }

  /** Frame sampling: split the payload into `meta.n_frames` equal chunks and
    * keep every `stride`-th — pure Column expressions (codegen'd), the
    * binary twin of ArrayOps.chunk. */
  def sampleFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    val n = col("meta.n_frames")
    val flen = (length(col("payload")) / n).cast("int")
    val frames = transform(sequence(lit(0), n - 1),
      i => col("payload").substr(i * flen + 1, flen))
    media.select(col("media_id"), col("kind"),
      filter(frames, (_, i) => i % stride === 0).as("sampled_frames"))
  }

  /** GIF sniff ("GIF87a"/"GIF89a") — the one multi-frame (video-container)
    * format the pure JDK can decode. */
  private[graft] def looksLikeGif(p: Array[Byte]): Boolean =
    p != null && hasMagic(p, 0, "GIF8")

  /** AVI sniff: RIFF container carrying an "AVI " form — the MJPEG-in-AVI
    * layout is the one video container a pure JDK can fully decode (RIFF
    * walk + per-frame JPEG via ImageIO). */
  private[graft] def looksLikeAvi(p: Array[Byte]): Boolean =
    looksLikeRiff(p, "AVI ")

  /** Walk the RIFF chunk tree of an AVI payload and return the
    * video-stream frame payloads: the data of every `NNdc`/`NNdb` chunk
    * (video stream data, any stream number) that starts with a JPEG SOI
    * marker — the MJPEG layout stores one complete JPEG per chunk.
    * Defensive on malformed input: corrupt/oversized chunk lengths
    * terminate the walk instead of reading out of bounds, so a truncated
    * file degrades to "fewer frames", never an exception. */
  private[graft] def aviMjpegFrames(p: Array[Byte]): Array[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def le32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    // explicit work stack, not recursion: a corrupt payload that is
    // thousands of nested LIST headers would otherwise drive the walk
    // into StackOverflowError, which is NOT NonFatal — it would escape
    // the caller's degrade-to-null catch and fail the task; the depth
    // bound makes pathological nesting terminate early (real AVIs nest
    // 2-3 deep)
    val stack = scala.collection.mutable.Stack.empty[(Long, Int, Int)]
    var off = 12L
    var end = if (p.length >= 12) math.min(8 + le32(4), p.length.toLong).toInt
      else 0
    var depth = 0
    var live = p.length >= 12
    def resumeParent(): Unit =
      if (stack.isEmpty) live = false
      else { val t = stack.pop(); off = t._1; end = t._2; depth = t._3 }
    while (live) {
      if (off + 8 > end || depth > 16) {
        // span done (or pathological nesting): resume the parent span
        resumeParent()
      } else {
        val o = off.toInt
        val sz = le32(o + 4)
        val dataStart = off + 8
        val dataEnd = math.min(dataStart + sz, end.toLong)
        if (dataEnd < dataStart) { // corrupt size: abandon this span
          resumeParent()
        } else {
          val next = dataStart + sz + (sz & 1L) // chunks pad to even length
          val isList = p(o) == 'L' && p(o + 1) == 'I' &&
            p(o + 2) == 'S' && p(o + 3) == 'T'
          val isVideoChunk =
            p(o + 2) == 'd' && (p(o + 3) == 'c' || p(o + 3) == 'b')
          if (isList && dataEnd - dataStart >= 4) {
            // in-order descent: park the continuation of THIS span, then
            // walk the list body (4-byte list-type fourcc skipped)
            stack.push((next, end, depth))
            off = dataStart + 4
            end = dataEnd.toInt
            depth += 1
          } else {
            if (isVideoChunk && dataEnd - dataStart >= 3 &&
              p(dataStart.toInt) == 0xFF.toByte &&
              p(dataStart.toInt + 1) == 0xD8.toByte &&
              p(dataStart.toInt + 2) == 0xFF.toByte) {
              out += java.util.Arrays
                .copyOfRange(p, dataStart.toInt, dataEnd.toInt)
            }
            off = next
          }
        }
      }
    }
    out.toArray
  }

  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("frames", ArrayType(StructType(Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false),
        nullable = true))), containsNull = false), nullable = true)))

  /** REAL multi-frame decode for the video containers a pure JDK can
    * handle — animated GIF (ImageIO frame enumeration) and MJPEG-in-AVI
    * (RIFF `movi` walk + per-frame JPEG decode via [[aviMjpegFrames]]).
    * The stride keeps every k-th frame and each kept frame featurizes
    * through the same luminance-histogram kernel as still images. Codec
    * scope is honest: MP4/WebM (and non-MJPEG AVI codecs) fall through to
    * (id, null, null) rows, exactly like non-WAV audio (the row survives,
    * the decode degrades). Per-partition streaming, constant memory, no
    * shuffle — the frame fan-out stays inside the row as a nested array,
    * so downstream frame-level ops (explode + per-frame ANN, say) pick
    * their own parallelism. */
  def videoFrameFeatures(media: DataFrame, stride: Int = 2, bins: Int = 8)
      : DataFrame = {
    require(stride > 0, "stride must be positive")
    mapPayloads(media, videoFeatureSchema) { (id, payload) =>
      if (looksLikeAvi(payload)) {
        // MJPEG-in-AVI: every 00dc/00db chunk under movi is one JPEG
        val frames = try aviMjpegFrames(payload)
          catch { case scala.util.control.NonFatal(_) => Array.empty[Array[Byte]] }
        if (frames.isEmpty) Row(id, null, null)
        else {
          val kept = (0 until frames.length by stride).map { i =>
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(frames(i)))
              catch { case scala.util.control.NonFatal(_) => null }
            val h = if (img == null) null else lumHistOf(img, bins)
            Row(i, if (h == null) null else h.toSeq)
          }
          Row(id, frames.length.toLong, kept)
        }
      }
      else if (!looksLikeGif(payload)) Row(id, null, null)
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Row(id, null, null)
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              val frames = (0 until n by stride).map { i =>
                val h = lumHistOf(reader.read(i), bins)
                Row(i, if (h == null) null else h.toSeq)
              }
              Row(id, n.toLong, frames)
            } finally reader.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => Row(id, null, null) }
    }
  }

  /** Per-partition map of each (media_id, payload) row of `media` to a row
    * of `schema` (payload null when absent) — the Scala analogue of a
    * Pandas UDF over mapInPandas: one iterator per partition, constant
    * memory, no driver round-trip. */
  private def mapPayloads(media: DataFrame, schema: StructType)(
      f: (Long, Array[Byte]) => Row): DataFrame =
    media.select("media_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        f(r.getLong(0), if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
}
