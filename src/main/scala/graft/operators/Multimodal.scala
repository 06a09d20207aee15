package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video ride through the engine
  * as opaque `binary` columns with typed metadata structs; decode /
  * feature-extraction runs as a per-partition batch transform (the Scala
  * analog of a pandas-batched UDF: one decoder instantiation per
  * partition, streaming row iterators, no driver involvement).
  *
  * Two decode paths:
  *  - [[ImageCodec]]: a REAL image codec (`javax.imageio.ImageIO`, ships
  *    in the JDK — no external deps). [[synthesizeImages]] encodes a
  *    deterministic grayscale pattern per doc to actual PNG bytes;
  *    [[decodeImages]] decodes those bytes back through the codec and
  *    extracts pixel-level features. Because the pixel pattern is a pure
  *    function of (doc_id, x, y), the decoded sums/checksums have a full
  *    closed-form DuckDB oracle — a lossy or faked round-trip fails the
  *    hash gate (q107).
  *  - [[ByteStats]]: codec-free feature extraction over opaque payload
  *    bytes (histogram moments + rolling checksum), for media types with
  *    no JVM decoder; same mapPartitions batching contract (q33).
  */
object Multimodal {

  val featureType: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("byte_len", LongType),
    StructField("checksum", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** Per-partition batch codec work: the mapPartitions boundary means one
    * codec instance per partition and pipelined row streaming — the
    * idiomatic Spark shape for expensive per-row native work (and the
    * direct analog of `mapInPandas` batching). `f` maps each input row to
    * one output row of `fields`.
    */
  private def perPartition(in: DataFrame, fields: StructField*)(f: Row => Row): DataFrame =
    in.mapPartitions(_.map(f))(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(StructType(fields)))

  private val docIdField = StructField("doc_id", LongType)

  /** One (doc_id, media_bytes, media_type) payload per (doc_id, dims…)
    * row, encoded by `encode`. */
  private def encodeMedia(dims: DataFrame, mediaType: String)(
      encode: Row => Array[Byte]): DataFrame =
    perPartition(dims,
      docIdField,
      StructField("media_bytes", BinaryType),
      StructField("media_type", StringType))(r => Row(r.getLong(0), encode(r), mediaType))

  /** Attach an opaque payload + metadata to a documents table (the harness
    * has no real image bytes; text bytes stand in — the engine treats them
    * as opaque either way).
    */
  def withMediaColumns(docs: DataFrame): DataFrame =
    docs
      .withColumn("media_bytes", col("text").cast("binary"))
      .withColumn("media_meta", struct(
        lit("image/fake").as("media_type"),
        octet_length(col("text").cast("binary")).cast("long").as("byte_len"),
        (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("declared_width"),
        (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("declared_height")))

  /** Real JVM image codec: PNG via `javax.imageio.ImageIO` (JDK-builtin).
    * Synthesis writes an 8-bit grayscale pattern `g(x,y) = (7x + 13y +
    * 31·doc_id) mod 256` through the PNG encoder; decode reads raw raster
    * samples back (no color-space conversion — `Raster.getSample`, not
    * `getRGB`). PNG is lossless, so decoded pixels must equal the
    * closed-form pattern bit-for-bit; q107's DuckDB oracle recomputes the
    * pixel sum / rolling checksum from the formula and hash-compares.
    */
  object ImageCodec {
    def grayAt(docId: Long, x: Int, y: Int): Int =
      ((x * 7L + y * 13L + docId * 31L) % 256L).toInt

    // ImageIO's default ImageInputStream/ImageOutputStream cache is a
    // TEMP FILE per encode/decode call (~tens of ms of filesystem work
    // per image — 10-100× the actual codec time on small rasters);
    // in-memory cache streams make the codec CPU-bound as it should be.
    javax.imageio.ImageIO.setUseCache(false)

    def synthesizePng(docId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, grayAt(docId, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    final case class Decoded(width: Int, height: Int, pixSum: Long,
        pixChecksum: Long, meanGray: Double)

    def decode(bytes: Array[Byte]): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var c = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = raster.getSample(x, y, 0)
          sum += g
          c = (c * 31 + g) & 0xffffffffL
          x += 1
        }
        y += 1
      }
      Decoded(w, h, sum, c, sum.toDouble / (w.toLong * h * 255).toDouble)
    }

    final case class DHash(hashLo: Long, hashHi: Long)

    /** Perceptual difference-hash over the DECODED raster (the standard
      * dHash: nearest-neighbor downsample to a 9×8 grid, emit one bit per
      * horizontal neighbor comparison → 64 bits). Nearest-neighbor
      * sampling (`x_i = ⌊i·w/9⌋`) keeps the whole pipeline in exact
      * integer arithmetic — a block-average resize would round and the
      * closed-form oracle could not reproduce it cross-engine. The 64
      * bits are returned as two NON-NEGATIVE 32-bit halves so they ride
      * BIGINT columns on any engine without sign traps.
      */
    def dHash(bytes: Array[Byte]): DHash = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var lo = 0L
      var hi = 0L
      var j = 0
      while (j < 8) {
        val y = j * h / 8
        var i = 0
        var prev = raster.getSample(0, y, 0)
        while (i < 8) {
          val cur = raster.getSample((i + 1) * w / 9, y, 0)
          if (cur > prev) {
            val b = j * 8 + i
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          prev = cur
          i += 1
        }
        j += 1
      }
      DHash(lo, hi)
    }
  }

  /** RGB (multi-band) arm of [[ImageCodec]]: 3-channel truecolor PNG
    * round-trip with per-channel closed-form patterns — decode reads
    * semantic band indices (0=R, 1=G, 2=B) from the raster, so a
    * band-order bug (e.g. treating the BGR byte layout as band order)
    * hash-mismatches q112's oracle.
    */
  object RgbCodec {
    def rAt(docId: Long, x: Int, y: Int): Int = ((x * 7L + y * 13L + docId * 31L) % 256L).toInt
    def gAt(docId: Long, x: Int, y: Int): Int = ((x * 11L + y * 5L + docId * 17L) % 256L).toInt
    def bAt(docId: Long, x: Int, y: Int): Int = ((x * 3L + y * 19L + docId * 23L) % 256L).toInt

    def synthesizePng(docId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, rAt(docId, x, y))
          raster.setSample(x, y, 1, gAt(docId, x, y))
          raster.setSample(x, y, 2, bAt(docId, x, y))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    final case class Decoded(width: Int, height: Int, sumR: Long, sumG: Long,
        sumB: Long, pixChecksum: Long, meanLuma: Double)

    def decode(bytes: Array[Byte]): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var c = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = raster.getSample(x, y, 0)
          val g = raster.getSample(x, y, 1)
          val b = raster.getSample(x, y, 2)
          sr += r; sg += g; sb += b
          c = (c * 31 + r) & 0xffffffffL
          c = (c * 31 + g) & 0xffffffffL
          c = (c * 31 + b) & 0xffffffffL
          x += 1
        }
        y += 1
      }
      Decoded(w, h, sr, sg, sb, c,
        (sr + sg + sb).toDouble / (3L * w * h * 255).toDouble)
    }
  }

  /** Smaller deterministic dims for the 3-band arm (3× the samples per
    * pixel): width = doc_id%32 + 8, height = doc_id%24 + 8.
    */
  private def rgbDimCols: Seq[org.apache.spark.sql.Column] = Seq(
    (pmod(col("doc_id"), lit(32)) + 8).cast("int").as("w"),
    (pmod(col("doc_id"), lit(24)) + 8).cast("int").as("h"))

  /** Encode a real RGB PNG per document. */
  def synthesizeRgbImages(docs: DataFrame): DataFrame =
    encodeMedia(docs.select(col("doc_id") +: rgbDimCols: _*), "image/png")(r =>
      RgbCodec.synthesizePng(r.getLong(0), r.getInt(1), r.getInt(2)))

  /** Decode RGB PNG bytes into per-channel features. */
  def decodeRgbImages(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes")),
      docIdField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType),
      StructField("pix_checksum", LongType),
      StructField("mean_luma", DoubleType)) { r =>
      val d = RgbCodec.decode(r.getAs[Array[Byte]](1))
      Row(r.getLong(0), d.width, d.height, d.sumR, d.sumG, d.sumB, d.pixChecksum, d.meanLuma)
    }

  /** Deterministic per-doc image dimensions (shared by synthesis and the
    * oracle): width = doc_id%64 + 16, height = doc_id%48 + 16.
    */
  private def dimCols: Seq[org.apache.spark.sql.Column] = Seq(
    (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("w"),
    (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("h"))

  /** Encode a real PNG per document (per-partition ImageIO batching). */
  def synthesizeImages(docs: DataFrame): DataFrame =
    encodeMedia(docs.select(col("doc_id") +: dimCols: _*), "image/png")(r =>
      ImageCodec.synthesizePng(r.getLong(0), r.getInt(1), r.getInt(2)))

  /** Decode PNG bytes through ImageIO into pixel-level features. */
  def decodeImages(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes")),
      docIdField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("pix_sum", LongType),
      StructField("pix_checksum", LongType),
      StructField("mean_gray", DoubleType)) { r =>
      val d = ImageCodec.decode(r.getAs[Array[Byte]](1))
      Row(r.getLong(0), d.width, d.height, d.pixSum, d.pixChecksum, d.meanGray)
    }

  /** Perceptual hash per image through the real PNG decode path (decode →
    * raster → dHash; no closed-form shortcut on the engine side — the
    * oracle recomputes the grid from the pattern, so a codec or sampling
    * bug hash-mismatches).
    */
  def imageDHashes(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes")),
      docIdField,
      StructField("hash_lo", LongType),
      StructField("hash_hi", LongType)) { r =>
      val d = ImageCodec.dHash(r.getAs[Array[Byte]](1))
      Row(r.getLong(0), d.hashLo, d.hashHi)
    }

  /** Real JVM audio codec: WAV (RIFF/WAVE, PCM signed 16-bit LE mono) via
    * `javax.sound.sampled.AudioSystem` (JDK-builtin, no external deps and
    * no audio device needed — pure file-format I/O). Synthesis writes the
    * closed-form waveform `s(i) = ((7i + 31·doc_id) mod 65536) − 32768`
    * through the WAV encoder; decode parses the RIFF header back through
    * `AudioSystem.getAudioInputStream` (sample rate / channels / bit depth
    * come from the DECODED header, not assumptions) and reads the PCM
    * frames. PCM is lossless, so decoded samples must equal the formula
    * bit-for-bit; q146's DuckDB oracle recomputes the sums/checksum from
    * the closed form and hash-compares — a header-parse or endianness bug
    * fails the gate.
    */
  object AudioCodec {
    val SampleRate = 8000
    def sampleAt(docId: Long, i: Int): Int =
      ((i * 7L + docId * 31L) % 65536L).toInt - 32768

    def synthesizeWav(docId: Long, nSamples: Int): Array[Byte] =
      synthesizeWavWith(nSamples, sampleAt(docId, _))

    /** Gained waveform for the loudness census (q249): the base ramp is
      * phase-spread across documents (stride 9973 ≫ the doc count, so doc
      * phases cover the full 16-bit range), scaled by a PER-WINDOW gain
      * `g = (37·doc + 53·window) mod 80` with saturation — `g > 64`
      * amplifies past full scale and clamps at ±32767/−32768, exactly how
      * a hot recording chain clips. All arithmetic is non-negative
      * integer mod/floor-div before the final shift, so Scala `/` and
      * DuckDB `//` agree term for term.
      */
    def gainedSampleAt(docId: Long, i: Int): Int = {
      val g = ((37L * docId + 53L * (i / WindowSamples)) % 80L).toInt
      val raw = ((i * 7L + docId * 9973L) % 65536L).toInt
      val v = (raw * g) / 64 - 512 * g
      math.max(-32768, math.min(32767, v))
    }

    def synthesizeGainedWav(docId: Long, nSamples: Int): Array[Byte] =
      synthesizeWavWith(nSamples, gainedSampleAt(docId, _))

    private def synthesizeWavWith(nSamples: Int, f: Int => Int): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val v = f(i)
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        SampleRate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** WAVE writer resolved once per JVM (same SPI-scan hazard as the
      * reader side — `AudioSystem.write` re-scans providers per call).
      */
    private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      var found: javax.sound.sampled.spi.AudioFileWriter = null
      while (found == null && it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
          found = w
      }
      if (found == null)
        throw new IllegalStateException("no SPI writer supports WAVE")
      found
    }

    final case class Decoded(sampleRate: Int, channels: Int, bits: Int,
        nSamples: Long, sampleSum: Long, absSum: Long, sampleChecksum: Long,
        meanAbs: Double)

    /** SPI readers resolved ONCE per JVM via ServiceLoader.
      * `AudioSystem.getAudioInputStream` re-scans providers under a
      * class-wide lock on every call, which serialized all 32 decode
      * tasks (r5 bench: ~85 s task time vs ~4 s CPU). Caching the
      * reader list makes decode lock-free after first touch.
      */
    private lazy val spiReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.toArray
    }

    private def openStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
      var i = 0
      while (i < spiReaders.length) {
        try return spiReaders(i).getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
        i += 1
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no SPI reader recognized the payload")
    }

    def decode(bytes: Array[Byte]): Decoded = {
      val in = openStream(bytes)
      val fmt = in.getFormat
      val pcm = in.readAllBytes()
      in.close()
      // The sample loop below hardcodes two-byte short assembly and reads
      // channel 0 only; any other decoded format would yield garbage
      // features instead of an error, so fail loudly (ADVICE r5).
      if (fmt.getSampleSizeInBits != 16)
        throw new IllegalArgumentException(
          s"AudioCodec.decode supports 16-bit PCM only; got ${fmt.getSampleSizeInBits}-bit")
      val bytesPerSample = fmt.getSampleSizeInBits / 8
      val frameSize = fmt.getFrameSize
      val n = pcm.length / frameSize
      var sum = 0L
      var abs = 0L
      var c = 0L
      var i = 0
      while (i < n) {
        val off = i * frameSize // channel 0 of each frame
        val v =
          if (fmt.isBigEndian)
            ((pcm(off) << 8) | (pcm(off + 1) & 0xff)).toShort.toInt
          else
            ((pcm(off + bytesPerSample - 1) << 8) | (pcm(off) & 0xff)).toShort.toInt
        sum += v
        abs += math.abs(v)
        c = (c * 31 + (v + 32768)) & 0xffffffffL
        i += 1
      }
      Decoded(fmt.getSampleRate.toInt, fmt.getChannels,
        fmt.getSampleSizeInBits, n, sum, abs, c,
        abs.toDouble / (n.toDouble * 32768.0d))
    }

    /** Loudness census thresholds: a window is CLIPPED when its peak
      * reaches the top of the 16-bit range (|v| ≥ 32760 — near-full-scale
      * samples mean the recording chain saturated) and QUIET when its
      * mean |v| < 8192 (< −12 dBFS on average). Both comparisons are
      * exact integer arithmetic so the census bit-reproduces anywhere.
      */
    val WindowSamples = 128
    val ClipPeak = 32760
    val QuietAbsSum: Long = WindowSamples.toLong * 8192L

    final case class Loudness(nSamples: Long, nWindows: Long, nClipped: Long,
        nQuiet: Long, energy: Long, peakAbs: Int)

    /** Windowed loudness/clipping census over the decoded PCM — the audio
      * curation pass (drop saturated takes, trim dead air) run as exact
      * integer window aggregates on FULL windows of [[WindowSamples]]
      * samples (the ragged tail is excluded from every stat, so window
      * boundaries are engine-independent). energy = Σ v² fits a long with
      * huge margin (128·32768² per window).
      */
    def decodeLoudness(bytes: Array[Byte]): Loudness = {
      val in = openStream(bytes)
      val fmt = in.getFormat
      val pcm = in.readAllBytes()
      in.close()
      if (fmt.getSampleSizeInBits != 16)
        throw new IllegalArgumentException(
          s"decodeLoudness supports 16-bit PCM only; got ${fmt.getSampleSizeInBits}-bit")
      val bytesPerSample = fmt.getSampleSizeInBits / 8
      val frameSize = fmt.getFrameSize
      val n = pcm.length / frameSize
      val nWin = n / WindowSamples
      var nClipped = 0L
      var nQuiet = 0L
      var energy = 0L
      var peak = 0
      var k = 0
      while (k < nWin) {
        var absSum = 0L
        var winPeak = 0
        var i = k * WindowSamples
        val end = i + WindowSamples
        while (i < end) {
          val off = i * frameSize
          val v =
            if (fmt.isBigEndian)
              ((pcm(off) << 8) | (pcm(off + 1) & 0xff)).toShort.toInt
            else
              ((pcm(off + bytesPerSample - 1) << 8) | (pcm(off) & 0xff)).toShort.toInt
          val a = math.abs(v)
          absSum += a
          if (a > winPeak) winPeak = a
          energy += v.toLong * v.toLong
          i += 1
        }
        if (winPeak >= ClipPeak) nClipped += 1
        if (absSum < QuietAbsSum) nQuiet += 1
        if (winPeak > peak) peak = winPeak
        k += 1
      }
      Loudness(n, nWin, nClipped, nQuiet, energy, peak)
    }
  }

  /** Deterministic per-doc sample counts: n = doc_id%480 + 240. */
  private def audioDimCol: org.apache.spark.sql.Column =
    (pmod(col("doc_id"), lit(480)) + 240).cast("int").as("n")

  /** Encode a real WAV per document (per-partition codec batching). */
  def synthesizeAudio(docs: DataFrame): DataFrame =
    encodeMedia(docs.select(col("doc_id"), audioDimCol), "audio/wav")(r =>
      AudioCodec.synthesizeWav(r.getLong(0), r.getInt(1)))

  /** Decode WAV bytes through the javax.sound codec into sample-level
    * features (header fields + PCM sums/checksum).
    */
  def decodeAudio(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes")),
      docIdField,
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("bits", IntegerType),
      StructField("n_samples", LongType),
      StructField("sample_sum", LongType),
      StructField("abs_sum", LongType),
      StructField("sample_checksum", LongType),
      StructField("mean_abs", DoubleType)) { r =>
      val d = AudioCodec.decode(r.getAs[Array[Byte]](1))
      Row(r.getLong(0), d.sampleRate, d.channels, d.bits, d.nSamples, d.sampleSum, d.absSum,
        d.sampleChecksum, d.meanAbs)
    }

  /** Encode the gained (saturating) waveform per document — the loudness
    * census fixture (same WAV plumbing as [[synthesizeAudio]]).
    */
  def synthesizeGainedAudio(docs: DataFrame): DataFrame =
    encodeMedia(docs.select(col("doc_id"), audioDimCol), "audio/wav")(r =>
      AudioCodec.synthesizeGainedWav(r.getLong(0), r.getInt(1)))

  /** Windowed loudness census through the real WAV decode path. */
  def decodeAudioLoudness(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes")),
      docIdField,
      StructField("n_samples", LongType),
      StructField("n_windows", LongType),
      StructField("n_clipped", LongType),
      StructField("n_quiet", LongType),
      StructField("energy", LongType),
      StructField("peak_abs", IntegerType)) { r =>
      val d = AudioCodec.decodeLoudness(r.getAs[Array[Byte]](1))
      Row(r.getLong(0), d.nSamples, d.nWindows, d.nClipped, d.nQuiet, d.energy, d.peakAbs)
    }

  /** Codec-free byte-level feature extraction for opaque payloads with no
    * JVM decoder (deterministic: rolling checksum + byte-histogram
    * moments); the generic fallback arm of the decode seam.
    */
  object ByteStats {
    def decode(docId: Long, bytes: Array[Byte], w: Int, h: Int): Row = {
      var checksum = 0L
      var i = 0
      while (i < bytes.length) { checksum = (checksum * 31 + (bytes(i) & 0xff)) & 0xffffffffL; i += 1 }
      // fake 8-dim "embedding": byte histogram moments, deterministic
      val feats = new Array[Double](8)
      i = 0
      while (i < bytes.length) { feats(i % 8) += (bytes(i) & 0xff) / 255.0; i += 1 }
      Row(docId, bytes.length.toLong, checksum, w, h, feats.toSeq)
    }
  }

  /** Resize plan: pure-metadata transform computing target dimensions
    * with aspect-ratio-preserving fit (the actual pixel work happens in
    * the per-partition decode below; at plan level resize is just typed
    * column arithmetic — zero cost until decode).
    */
  def withResizePlan(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("media_meta.declared_width").cast("double")
    val h = col("media_meta.declared_height").cast("double")
    val scale = least(lit(maxW) / w, lit(maxH) / h, lit(1.0))
    media.withColumn("resize_plan", struct(
      floor(w * scale).cast("int").as("target_width"),
      floor(h * scale).cast("int").as("target_height"),
      (scale < 1.0).as("needs_resize")))
  }

  /** Frame-sampling plan for video-like payloads: deterministic sample
    * offsets (every `stride`-th frame up to `maxFrames`), as typed
    * metadata the decoder consumes. Array arithmetic only.
    */
  def withFrameSamplePlan(media: DataFrame, declaredFramesCol: String,
      stride: Int, maxFrames: Int): DataFrame =
    media.withColumn("frame_sample_plan",
      slice(sequence(lit(0), greatest(col(declaredFramesCol) - 1, lit(0)),
        lit(stride)), 1, maxFrames))

  /** Codec-free [[ByteStats]] features of every payload, decoded per
    * partition ([[perPartition]]).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val in = media.select(col("doc_id"), col("media_bytes"),
      col("media_meta.declared_width").as("w"),
      col("media_meta.declared_height").as("h"))
    perPartition(in, featureType.fields.toIndexedSeq: _*) { r =>
      ByteStats.decode(r.getAs[Long]("doc_id"),
        r.getAs[Array[Byte]]("media_bytes"),
        r.getAs[Int]("w"), r.getAs[Int]("h"))
    }
  }

  /** Minimal raw-video container ("GVID"): a real binary format the
    * decode path must actually parse — magic (4 B) + big-endian u16
    * width/height/frameCount header, then frameCount planes of w·h
    * 8-bit gray samples. Pixel pattern `(7x + 13y + 31f + 11·doc_id)
    * mod 251` is closed-form, so a DuckDB oracle can recompute every
    * sampled frame's pixel sum and any header/offset mistake in the
    * parser shifts the sums and fails the hash gate. Stands in for an
    * MP4/H.264 demux stage: the container libs aren't in this
    * environment, but the Spark-side shape — opaque binary column,
    * typed metadata, plan-level frame sampling, per-partition batch
    * decode — is the real thing.
    */
  object VideoCodec {
    val Magic: Array[Byte] = "GVID".getBytes("US-ASCII")

    def grayAt(docId: Long, f: Int, x: Int, y: Int): Int =
      ((7L * x + 13L * y + 31L * f + 11L * docId) % 251L).toInt

    def synthesize(docId: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(10 + w * h * nFrames)
      bb.put(Magic)
      bb.putShort(w.toShort); bb.putShort(h.toShort); bb.putShort(nFrames.toShort)
      var f = 0
      while (f < nFrames) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { bb.put(grayAt(docId, f, x, y).toByte); x += 1 }
          y += 1
        }
        f += 1
      }
      bb.array()
    }

    final case class FrameStats(width: Int, height: Int, nFrames: Int,
        sampledPixSum: Long, nSampled: Int)

    /** Parse the container and sum the pixels of the given frame indices
      * only — a real demuxer seeks planes by offset, it never touches
      * unsampled frames.
      */
    def decodeFrames(bytes: Array[Byte], frameIdx: Seq[Int]): FrameStats = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val magic = new Array[Byte](4); bb.get(magic)
      require(java.util.Arrays.equals(magic, Magic), "bad GVID magic")
      val w = bb.getShort() & 0xffff
      val h = bb.getShort() & 0xffff
      val nF = bb.getShort() & 0xffff
      require(bytes.length == 10 + w * h * nF, "truncated GVID payload")
      var sum = 0L
      frameIdx.foreach { f =>
        require(f >= 0 && f < nF, s"frame $f out of range 0..${nF - 1}")
        var i = 10 + f * w * h
        val end = i + w * h
        while (i < end) { sum += bytes(i) & 0xff; i += 1 }
      }
      FrameStats(w, h, nF, sum, frameIdx.size)
    }
  }

  /** Deterministic per-doc video dims: w = id%17+16, h = id%13+16,
    * frames = id%9+4.
    */
  private def videoDimCols: Seq[org.apache.spark.sql.Column] = Seq(
    (pmod(col("doc_id"), lit(17)) + 16).cast("int").as("w"),
    (pmod(col("doc_id"), lit(13)) + 16).cast("int").as("h"),
    (pmod(col("doc_id"), lit(9)) + 4).cast("int").as("nf"))

  /** Encode a GVID container per document, with declared frame count as
    * typed metadata for plan-level frame sampling.
    */
  def synthesizeVideos(docs: DataFrame): DataFrame =
    perPartition(docs.select(col("doc_id") +: videoDimCols: _*),
      docIdField,
      StructField("media_bytes", BinaryType),
      StructField("declared_frames", IntegerType)) { r =>
      val id = r.getLong(0)
      val nf = r.getInt(3)
      Row(id, VideoCodec.synthesize(id, r.getInt(1), r.getInt(2), nf), nf)
    }

  /** Demux + decode ONLY the frames named by `frame_sample_plan`
    * (per-partition batch decode, same seam as images/audio).
    */
  def decodeVideoFrames(media: DataFrame): DataFrame =
    perPartition(media.select(col("doc_id"), col("media_bytes"), col("frame_sample_plan")),
      docIdField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("n_sampled", IntegerType),
      StructField("byte_len", LongType),
      StructField("sampled_pix_sum", LongType)) { r =>
      val bytes = r.getAs[Array[Byte]]("media_bytes")
      val plan = r.getSeq[Int](r.fieldIndex("frame_sample_plan"))
      val st = VideoCodec.decodeFrames(bytes, plan)
      Row(r.getLong(0), st.width, st.height, st.nFrames, st.nSampled,
        bytes.length.toLong, st.sampledPixSum)
    }
}
