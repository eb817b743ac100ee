package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video ride as opaque
  * `binary` columns with typed metadata structs. The Spark-side
  * contract — schema, batched mapPartitions execution (the Scala
  * equivalent of `mapInPandas` batch shape), partition sizing — is real
  * and tested. ALL THREE codecs are REAL on pure JDK: IMAGE
  * (`ImageCodec`, `javax.imageio` — PNG/BMP/JPEG decoders ship in the
  * JDK, zero egress), AUDIO (`AudioCodec`, `javax.sound.sampled` —
  * RIFF/WAVE PCM), and VIDEO ([[VideoCodec]] — MJPEG-in-AVI: a RIFF
  * container of genuine `javax.imageio` JPEG frames).
  */
object Multimodal {

  /** Real image codec on `javax.imageio`. Used two ways:
    *  - `decodeStats` is the production decode path: bytes → pixels →
    *    dimensions + per-channel means (the feature-extraction shape a
    *    training pipeline needs before any model call).
    *  - `encodePng` generates deterministic gradient images whose
    *    channel values are a CLOSED-FORM function of (x, y, seed) —
    *    PNG is lossless, so decoded features are arithmetically
    *    predictable and the q_image_features DuckDB oracle can
    *    recompute them without any image library: a green row proves
    *    the decode read real pixels.
    */
  object ImageCodec {
    // ImageIO defaults to DISK-backed stream caches: every
    // read(InputStream)/write(_, _, OutputStream) creates and deletes
    // a temp file. Per-row decodes across 32 executor threads turn
    // that into filesystem churn that grows with corpus size (measured
    // at sf10: image/video feature extraction scaled ~3x worse than
    // linear). All our payloads are in-memory byte arrays — cache in
    // memory. JVM-wide static, set once at class-init.
    javax.imageio.ImageIO.setUseCache(false)

    /** Per-channel pixel formulas — mirrored verbatim in the
      * q_image_features oracle SQL. Int arithmetic, non-negative
      * operands, so `%` agrees across engines.
      */
    def pixelR(x: Int, y: Int, seed: Int): Int = (x * 31 + y * 17 + seed) % 256
    def pixelG(x: Int, y: Int, seed: Int): Int = (x * 7 + y * 13 + 2 * seed) % 256
    def pixelB(x: Int, y: Int, seed: Int): Int = (x * 3 + y * 29 + 5 * seed) % 256

    def encodePng(width: Int, height: Int, seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y,
            (pixelR(x, y, seed) << 16) | (pixelG(x, y, seed) << 8) | pixelB(x, y, seed))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Decoded image statistics. Channel means are one IEEE division
      * of an exact integer sum — bit-reproducible in any engine that
      * performs the same division — and the integer sums ride along
      * (r17): a graded ROUNDING of the mean must happen in exact
      * integer arithmetic (sum/(w·h) is an integer ratio, the
      * RepetitionStats.ratio6 midpoint class — e.g. a 16×10 image has
      * denominator 160, whose odd-numerator ratios sit exactly on
      * 4-dp midpoints that the two engines' double paths round apart).
      */
    final case class ImageStats(
        width: Int, height: Int, meanR: Double, meanG: Double, meanB: Double,
        sumR: Long, sumG: Long, sumB: Long)

    /** Nearest-neighbor half-scale: decode, sample out(x,y) =
      * in(2x, 2y), re-encode. Nearest-neighbor (not bilinear) is the
      * deliberate choice for an oracle-graded transform: each output
      * pixel is ONE input pixel, so the resized image of a generated
      * payload is itself a closed form (formula(2x, 2y, seed)) any
      * engine can replay arithmetically — and it is also what a
      * training pipeline's cheap thumbnail pass does. Requires
      * width, height ≥ 2.
      */
    def resizeNearestHalf(bytes: Array[Byte]): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image payload")
      val (w2, h2) = (img.getWidth / 2, img.getHeight / 2)
      require(w2 > 0 && h2 > 0, s"image too small to halve: ${img.getWidth}x${img.getHeight}")
      val out = new java.awt.image.BufferedImage(
        w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h2) {
        var x = 0
        while (x < w2) {
          out.setRGB(x, y, img.getRGB(2 * x, 2 * y))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

    def decodeStats(bytes: Array[Byte]): ImageStats = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "undecodable image payload")
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      ImageStats(w, h, sr / n, sg / n, sb / n, sr, sg, sb)
    }
  }

  /** REAL audio codec — `javax.sound.sampled` ships a WAV
    * reader/writer in the JDK (zero egress), so the audio half of the
    * media path decodes genuine RIFF/WAVE containers the same way the
    * image half decodes genuine PNGs. 16-bit signed little-endian
    * mono PCM; stats are exact integer sums + one IEEE division, the
    * oracle-parity rule used across the catalog.
    */
  object AudioCodec {
    /** Deterministic PCM sample formula — mirrored verbatim in the
      * q_audio_features oracle SQL. Non-negative int arithmetic before
      * the bias so `%` agrees across engines; range [-32768, 32767].
      */
    def sample(i: Int, seed: Int): Int = (i * 37 + seed * 101) % 65536 - 32768

    // The same JDK provider instances AudioSystem would select — but
    // resolved ONCE per JVM. AudioSystem.getAudioInputStream/write
    // route every call through JDK13Services.getProviders, a STATIC
    // SYNCHRONIZED global lock: at ~100k encode/decode calls across 32
    // executor threads the lock serializes the whole stage. The spi
    // providers themselves are stateless per call, so iterating a
    // cached list is exactly AudioSystem's own loop minus the lock.
    // Resolved against the SPI class's own classloader (not the
    // thread-context one) so the provider set is stable regardless of
    // which executor thread touches it first. AudioSystem's
    // properties-file provider-ordering (JDK13Services) is intentionally
    // NOT replicated: these are the JDK built-in providers with distinct
    // container magics, so ordering cannot change which one accepts.
    private lazy val fileReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      val cls = classOf[javax.sound.sampled.spi.AudioFileReader]
      val loaded =
        java.util.ServiceLoader.load(cls, cls.getClassLoader).iterator().asScala.toList
      // RIFF/WAVE reader FIRST (r20): ServiceLoader happens to order
      // SoftMidiAudioFileReader ahead of WaveFileReader, and the MIDI
      // reader's getAudioInputStream re-enters the very
      // JDK13Services/JSSecurityManager STATIC LOCK this cached list
      // exists to avoid (MidiSystem.getProviders) on EVERY probe before
      // rejecting non-MIDI bytes — a thread dump during the decode
      // stage showed all 32 tasks "waiting to lock JSSecurityManager"
      // under SoftMidiAudioFileReader (records/r20_audio_jstack.txt).
      // Acceptance is order-independent (disjoint container magics, per
      // the ordering note above), so moving the WAVE reader to the
      // front changes nothing semantically and takes the lock-free path
      // for the only container this codec decodes.
      val (wave, rest) = loaded.partition(_.getClass.getSimpleName.contains("Wave"))
      wave ++ rest
    }
    private lazy val fileWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      val cls = classOf[javax.sound.sampled.spi.AudioFileWriter]
      java.util.ServiceLoader.load(cls, cls.getClassLoader).iterator().asScala.toList
    }

    /** AudioSystem.getAudioInputStream semantics (first provider that
      * accepts the container wins) without the per-call global lock.
      */
    private def readAudio(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      fileReaders.foreach { r =>
        try return r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no provider could read the stream")
    }

    private def writeWave(
        ais: javax.sound.sampled.AudioInputStream,
        out: java.io.OutputStream): Unit = {
      val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
      fileWriters.find(_.isFileTypeSupported(t, ais)) match {
        case Some(w) => w.write(ais, t, out): Unit
        case None => throw new IllegalStateException("no WAVE writer provider")
      }
    }

    def encodeWav(nSamples: Int, sampleRate: Int, seed: Int): Array[Byte] = {
      val data = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = sample(i, seed)
        data(2 * i) = (s & 0xff).toByte // little-endian
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false) // signed, little-endian, mono
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
      val out = new java.io.ByteArrayOutputStream()
      writeWave(ais, out)
      out.toByteArray
    }

    /** Decoded audio statistics: container-reported format + frames,
      * integer-exact mean |amplitude| (one division) and peak.
      * duration_ms is integer floor division — spelled `//` in the
      * oracle.
      */
    final case class AudioStats(
        sampleRate: Int, channels: Int, frames: Long,
        durationMs: Long, meanAbs: Double, peak: Int,
        sumAbs: Long, nSamples: Long)

    def decodeStats(bytes: Array[Byte]): AudioStats = {
      val ais = readAudio(bytes)
      val fmt = ais.getFormat
      // endianness is part of the contract: getAudioInputStream also
      // parses AIFF/AU (big-endian PCM), which the manual LE decode
      // below would silently byte-swap into garbage stats
      require(
        fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"expected 16-bit signed little-endian PCM, got $fmt")
      val channels = fmt.getChannels
      val frames = ais.getFrameLength
      val pcm = ais.readAllBytes()
      val nSamples = pcm.length / 2
      var sumAbs = 0L
      var peak = 0
      var i = 0
      while (i < nSamples) {
        val lo = pcm(2 * i) & 0xff
        val hi = pcm(2 * i + 1).toInt // sign-carrying high byte (LE)
        val s = (hi << 8) | lo
        val a = math.abs(s)
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      val rate = fmt.getSampleRate.toInt
      AudioStats(
        sampleRate = rate,
        channels = channels,
        frames = frames,
        durationMs = frames * 1000L / rate,
        meanAbs = if (nSamples == 0) 0.0 else sumAbs.toDouble / nSamples,
        peak = peak,
        sumAbs = sumAbs,
        nSamples = nSamples.toLong
      )
    }
  }

  /** Typed metadata carried next to the binary payload. */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("format", StringType, nullable = true), // png|jpg|wav|mp4…
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = false)
  ))

  /** Model-free featurizer for opaque payloads: a feature hash of the
    * sampled byte content, unit-normalized — the deterministic,
    * engine-portable stand-in a pipeline uses where a learned embedding
    * model would slot in (same role HashEmbedder plays for text). The
    * per-sample hash is the first 4 bytes of MD5 over the ASCII
    * "index:byteValue" pair, so the q_media_features DuckDB oracle
    * reconstructs the entire feature vector from the payload bytes.
    * `dim` must be a power of two so signed floorMod == unsigned %.
    */
  object HashFeaturizer {
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      require((dim & (dim - 1)) == 0, "dim must be a power of two (engine-portable bucketing)")
      val v = new Array[Float](dim)
      val md = md5Local.get()
      var i = 0
      val step = math.max(1, bytes.length / 512)
      while (i < bytes.length) {
        md.reset()
        val d = md.digest(s"$i:${bytes(i)}".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        val h = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) | ((d(2) & 0xff) << 8) | (d(3) & 0xff)
        v(math.floorMod(h, dim)) += (if ((h & 1) == 0) 1f else -1f)
        i += step
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n > 0) v.map(x => (x / n).toFloat) else v
    }

    private val md5Local = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  }

  /** REAL container sniffing for the metadata stage: identify the
    * payload format from magic bytes and read dimensions/duration out
    * of the actual container headers (PNG IHDR, JPEG SOF, RIFF/WAVE
    * fmt+data, RIFF/AVI avih) — header-only parsing, no full decode.
    * Unknown payloads get `(bin, null, null, null)`: the pipeline
    * carries them as opaque bytes rather than failing (S8 shape).
    */
  object MediaSniffer {
    final case class Sniffed(
        format: String, width: Option[Int], height: Option[Int], durationMs: Option[Long])

    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def le32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def fccIs(b: Array[Byte], i: Int, s: String): Boolean =
      b.length >= i + 4 && b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
        b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte

    def sniff(bytes: Array[Byte]): Sniffed = {
      if (bytes.length >= 24 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P'.toByte && bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte) {
        // PNG: 8-byte signature, IHDR is always first — width/height big-endian at 16/20
        Sniffed("png", Some(be32(bytes, 16)), Some(be32(bytes, 20)), None)
      } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
        // JPEG: walk marker segments to the first SOFn frame header
        var i = 2
        var dims: Option[(Int, Int)] = None
        while (dims.isEmpty && i + 4 <= bytes.length && (bytes(i) & 0xff) == 0xff) {
          val marker = bytes(i + 1) & 0xff
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i += 2 // standalone
          else {
            val segLen = be16(bytes, i + 2)
            val isSof = marker >= 0xc0 && marker <= 0xcf &&
              marker != 0xc4 && marker != 0xc8 && marker != 0xcc // exclude DHT/JPG/DAC
            if (isSof && i + 9 <= bytes.length)
              dims = Some((be16(bytes, i + 7), be16(bytes, i + 5))) // (width, height)
            i += 2 + segLen
          }
        }
        Sniffed("jpeg", dims.map(_._1), dims.map(_._2), None)
      } else if (bytes.length >= 12 && fccIs(bytes, 0, "RIFF") && fccIs(bytes, 8, "WAVE")) {
        // WAV: find fmt (byte rate at +8) and data (payload length) chunks
        var i = 12
        var byteRate = 0L
        var dataLen = -1L
        while (i + 8 <= bytes.length && (byteRate == 0L || dataLen < 0)) {
          val size = le32(bytes, i + 4)
          if (fccIs(bytes, i, "fmt ") && size >= 16) byteRate = le32(bytes, i + 16)
          else if (fccIs(bytes, i, "data")) dataLen = size
          i += 8 + size.toInt + (size.toInt & 1)
        }
        val dur = if (byteRate > 0 && dataLen >= 0) Some(dataLen * 1000L / byteRate) else None
        Sniffed("wav", None, None, dur)
      } else if (bytes.length >= 12 && fccIs(bytes, 0, "RIFF") && fccIs(bytes, 8, "AVI ")) {
        // AVI: avih is the first chunk of the first LIST(hdrl)
        var out = Sniffed("avi", None, None, None)
        if (fccIs(bytes, 12, "LIST") && fccIs(bytes, 20, "hdrl") && fccIs(bytes, 24, "avih") &&
          bytes.length >= 72) {
          val avih = 32 // avih data start
          val usPerFrame = le32(bytes, avih)
          val totalFrames = le32(bytes, avih + 16)
          out = Sniffed("avi",
            Some(le32(bytes, avih + 32).toInt), Some(le32(bytes, avih + 36).toInt),
            if (usPerFrame > 0) Some(totalFrames * usPerFrame / 1000L) else None)
        }
        out
      } else Sniffed("bin", None, None, None)
    }
  }

  /** Attach container metadata to a binary column — REAL header
    * parsing ([[MediaSniffer]]: PNG IHDR, JPEG SOF, RIFF/WAVE,
    * RIFF/AVI magic + headers), no full decode. Batched mapPartitions:
    * rows stream through in Arrow-friendly batch shape; per-batch setup
    * cost is amortized exactly where a real codec would want it.
    */
  def withMediaMeta(df: DataFrame, binCol: String, mediaType: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("media_meta", MediaMetaSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val s = MediaSniffer.sniff(bytes)
        val meta = Row(mediaType, s.format, s.width.orNull, s.height.orNull,
          s.durationMs.orNull, bytes.length.toLong)
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(Encoders.row(outSchema))
  }

  /** Feature extraction over binary payloads → `features array<float>`,
    * batched like an inference stage (batch boundary = model call).
    */
  def withMediaFeatures(df: DataFrame, binCol: String, dim: Int = 64, batchSize: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a real model would run one forward pass over this batch
        batch.iterator.map { r =>
          val f = HashFeaturizer.features(r.getAs[Array[Byte]](binIdx), dim)
          Row.fromSeq(r.toSeq :+ f.toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Render a deterministic PNG per row from (width, height, seed)
    * columns → binary `png` column. The generator half of the real
    * image path: payload bytes are genuine PNG containers, not
    * hash-fakes.
    */
  def withEncodedPng(
      df: DataFrame, wCol: String, hCol: String, seedCol: String, outCol: String = "png"
  ): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, BinaryType))
    val (wi, hi, si) = (df.schema.fieldIndex(wCol), df.schema.fieldIndex(hCol), df.schema.fieldIndex(seedCol))
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ ImageCodec.encodePng(r.getInt(wi), r.getInt(hi), r.getInt(si)))
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image decode over a binary column (javax.imageio): dimensions
    * + per-channel means as `img_width/img_height/mean_r/mean_g/mean_b`.
    * Batched mapPartitions like the feature stage — per-batch setup is
    * where a GPU decode would amortize.
    */
  def withImageStats(df: DataFrame, binCol: String, batchSize: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("img_width", IntegerType, nullable = false),
      StructField("img_height", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false)
    ))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val s = ImageCodec.decodeStats(r.getAs[Array[Byte]](binIdx))
          // Seq[Any]: a plain Seq would numerically widen the Int dims
          // to Double and break the row encoder's INT fields
          Row.fromSeq(r.toSeq ++ Seq[Any](s.width, s.height, s.meanR, s.meanG, s.meanB,
            s.sumR, s.sumG, s.sumB))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Binary→binary image transform stage: nearest-neighbor half-scale
    * of a PNG column ([[ImageCodec.resizeNearestHalf]]), batched
    * mapPartitions like every media stage. The thumbnail/downscale
    * pass of a multimodal training pipeline as a real
    * decode→transform→re-encode through `javax.imageio`.
    */
  def withResizedPng(
      df: DataFrame, binCol: String, outCol: String = "png_small", batchSize: Int = 32
  ): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, BinaryType))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          Row.fromSeq(r.toSeq :+ ImageCodec.resizeNearestHalf(r.getAs[Array[Byte]](binIdx)))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic WAV generator over (nSamples, sampleRate, seed)
    * int columns → binary `wav` column of genuine RIFF/WAVE
    * containers (the audio analog of [[withEncodedPng]]).
    */
  def withEncodedWav(
      df: DataFrame, nCol: String, rateCol: String, seedCol: String, outCol: String = "wav"
  ): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, BinaryType))
    val (ni, ri, si) =
      (df.schema.fieldIndex(nCol), df.schema.fieldIndex(rateCol), df.schema.fieldIndex(seedCol))
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ AudioCodec.encodeWav(r.getInt(ni), r.getInt(ri), r.getInt(si)))
      }
    }(Encoders.row(outSchema))
  }

  /** REAL audio decode over a binary column (javax.sound.sampled):
    * format + frames + duration + amplitude stats as
    * `sample_rate/channels/frames/duration_ms/mean_abs/peak`.
    * Batched mapPartitions like the image stage.
    */
  def withAudioStats(df: DataFrame, binCol: String, batchSize: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("frames", LongType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("mean_abs", DoubleType, nullable = false),
      StructField("peak", IntegerType, nullable = false),
      StructField("sum_abs", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false)
    ))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val s = AudioCodec.decodeStats(r.getAs[Array[Byte]](binIdx))
          Row.fromSeq(r.toSeq ++ Seq[Any](
            s.sampleRate, s.channels, s.frames, s.durationMs, s.meanAbs, s.peak,
            s.sumAbs, s.nSamples))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic MJPEG-AVI generator over (wBlocks, hBlocks, nFrames,
    * fps, seed) int columns → binary `avi` column of genuine RIFF/AVI
    * containers holding real JPEG frames (the video analog of
    * [[withEncodedPng]] / [[withEncodedWav]]).
    */
  def withEncodedAvi(
      df: DataFrame, wbCol: String, hbCol: String, nfCol: String,
      fpsCol: String, seedCol: String, outCol: String = "avi"
  ): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, BinaryType))
    val (wi, hi, ni, fi, si) = (
      df.schema.fieldIndex(wbCol), df.schema.fieldIndex(hbCol), df.schema.fieldIndex(nfCol),
      df.schema.fieldIndex(fpsCol), df.schema.fieldIndex(seedCol))
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ VideoCodec.encodeAviMjpeg(
          r.getInt(wi), r.getInt(hi), r.getInt(ni), r.getInt(fi), r.getInt(si)))
      }
    }(Encoders.row(outSchema))
  }

  /** REAL video decode over a binary column ([[VideoCodec]]): container
    * format + per-frame JPEG decode, emitted as
    * `vid_width/vid_height/n_frames/fps/duration_ms/mean_level/peak_level`.
    * Batched mapPartitions like the image/audio stages.
    */
  def withVideoStats(df: DataFrame, binCol: String, batchSize: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("vid_width", IntegerType, nullable = false),
      StructField("vid_height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("fps", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("mean_level", DoubleType, nullable = false),
      StructField("peak_level", IntegerType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false)
    ))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val s = VideoCodec.decodeAviMjpeg(r.getAs[Array[Byte]](binIdx))
          Row.fromSeq(r.toSeq ++ Seq[Any](
            s.width, s.height, s.nFrames, s.fps, s.durationMs, s.meanLevel, s.peakLevel,
            s.pixelSum))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Read a directory of media files as (path, modificationTime,
    * length, content) through the documents' file read (S3/S4 shape).
    */
  def readBinaryDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    graft.sources.DocumentSource.files(spark, dir, glob)
}
