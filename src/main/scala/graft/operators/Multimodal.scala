package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in batch-shaped partition passes.
  *
  * Image decode is REAL for JPEG/PNG (and any other `javax.imageio`
  * service-provider format — GIF/BMP/WBMP ship with the JDK): see
  * [[decodeImageToGrayscale]] / [[decodeResizeGrayscale]]. Audio decode is
  * REAL for the JDK container formats (WAV/AIFF/AU PCM via
  * `javax.sound.sampled`): see [[decodeAudioFeatures]]. Multi-frame
  * container sampling is REAL via animated GIF ([[decodeGifFrames]] — an
  * actual container index + LZW decode in the loop). Only COMPRESSED
  * audio (MP3/AAC) and true video codecs have no JDK decoder and stay on
  * [[decodeStub]], which derives deterministic fake features from the
  * bytes — everything around the stub (schema, batching, partition-wise
  * processing, metadata extraction) is real, so swapping in a JNI/codec
  * call is a one-function change. At cluster scale the binary column
  * stays columnar (parquet binary), partitions are sized by
  * `spark.sql.files.maxPartitionBytes`, and decode passes are
  * mapPartitions so per-partition library init (codec contexts) happens
  * once, not per row.
  */
object Multimodal {

  /** Typed metadata extracted without decoding: byte length, an 8-byte
    * header prefix (hex), and a modality guess from the header. Pure
    * column expressions — cheap, pushdown-friendly.
    */
  def withBinaryMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)).cast(LongType))
      .withColumn("header_hex", hex(substring(col(binCol), 1, 8)))

  final case class MediaFeatures(width: Int, height: Int, channels: Int, checksum: Long)

  /** STUB decode: deterministic pseudo-features from the byte content.
    * Real implementation: per-partition codec init + actual decode.
    */
  def decodeStub(bytes: Array[Byte]): MediaFeatures = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    val w = 16 + (math.abs(h) % 1920).toInt
    MediaFeatures(w, 16 + (math.abs(h >> 11) % 1080).toInt, 3, h)
  }

  /** Partition-wise feature extraction over a binary column. The
    * `mapPartitions` boundary is where a real pipeline initializes its
    * decoder once per partition (the per-batch shape Pandas-UDF pipelines
    * use); rows stream through without materializing the partition.
    */
  def extractFeatures(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      // real pipeline: init codec context here, once per partition
      rows.map { r =>
        val f = decodeStub(r.getAs[Array[Byte]](binIdx))
        (r.getLong(idIdx), f.width, f.height, f.channels, f.checksum)
      }
    }.toDF(idCol, "width", "height", "channels", "checksum")
  }

  /** REAL decode + resize for RAW 8-bit grayscale payloads — no codec
    * library needed (each byte IS a pixel), so this path is fully
    * implemented, not stubbed: height derives from length/width,
    * block-mean pooling resamples to (targetW × targetH), and mean/stddev
    * luminance come from the full-resolution pixels. Compressed codecs
    * (JPEG/PNG/...) still route through [[decodeStub]] until a codec
    * library is present; the partition/batch shape is identical.
    */
  def resizeRawGrayscale(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, widthCol: String, targetW: Int, targetH: Int): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val wIdx = df.schema.fieldIndex(widthCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val w = r.getInt(wIdx)
        if (bytes == null || w <= 0 || bytes.length < w) None
        else Some(thumbRow(r.getLong(idIdx), bytes, w, bytes.length / w, targetW, targetH))
      }
    }.toDF(idCol, "width", "height", "thumbnail", "mean_luminance", "stddev_luminance")
  }

  /** Block-mean pooling + full-resolution luminance stats over a w×h
    * 8-bit grayscale pixel buffer. Output pixel = integer mean of its
    * source rectangle — deterministic pure-integer arithmetic, so an
    * external engine (the DuckDB oracle) reproduces it bit-for-bit.
    */
  private def thumbRow(id: Long, pix: Array[Byte], w: Int, h: Int,
      targetW: Int, targetH: Int): (Long, Int, Int, Array[Byte], Double, Double) = {
    val thumb = new Array[Byte](targetW * targetH)
    var ty = 0
    while (ty < targetH) {
      val y0 = ty * h / targetH
      val y1 = math.max(y0 + 1, (ty + 1) * h / targetH)
      var tx = 0
      while (tx < targetW) {
        val x0 = tx * w / targetW
        val x1 = math.max(x0 + 1, (tx + 1) * w / targetW)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += pix(y * w + x) & 0xff; n += 1; x += 1 }
          y += 1
        }
        thumb(ty * targetW + tx) = (sum / n).toByte
        tx += 1
      }
      ty += 1
    }
    var s = 0.0; var s2 = 0.0
    val total = w * h
    var i = 0
    while (i < total) { val v = (pix(i) & 0xff).toDouble; s += v; s2 += v * v; i += 1 }
    val mean = s / total
    val stddev = math.sqrt(math.max(0.0, s2 / total - mean * mean))
    (id, w, h, thumb, mean, stddev)
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of a raw w×N
    * 8-bit grayscale buffer: 8×8 block-mean pool (the same integer
    * pooling as [[resizeRawGrayscale]]), then bit i (row-major, i =
    * ty·8+tx) is set iff pooled_i · 64 ≥ Σ pooled — pure integer
    * arithmetic (no mean division), so any engine reproduces the hash
    * exactly. Emitted as four 16-bit band values `b0..b3` (2 pool rows
    * each): the bands ARE the LSH blocking keys for [[aHashNearDup]],
    * every value < 2¹⁶ so no engine hits BIGINT shift/overflow edges,
    * and the full hash is `b3·2⁴⁸ + … + b0`.
    */
  def aHash(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, widthCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val wIdx = df.schema.fieldIndex(widthCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val w = r.getInt(wIdx)
        if (bytes == null || w <= 0 || bytes.length < w) None
        else {
          val h = bytes.length / w
          val pooled = new Array[Long](64)
          var ty = 0
          while (ty < 8) {
            val y0 = ty * h / 8
            val y1 = math.max(y0 + 1, (ty + 1) * h / 8)
            var tx = 0
            while (tx < 8) {
              val x0 = tx * w / 8
              val x1 = math.max(x0 + 1, (tx + 1) * w / 8)
              var sum = 0L; var n = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) { sum += bytes(y * w + x) & 0xff; n += 1; x += 1 }
                y += 1
              }
              pooled(ty * 8 + tx) = sum / n
              tx += 1
            }
            ty += 1
          }
          val total = pooled.sum
          val bands = new Array[Long](4)
          var i = 0
          while (i < 64) {
            if (pooled(i) * 64 >= total) bands(i / 16) |= 1L << (i % 16)
            i += 1
          }
          Some((r.getLong(idIdx), bands(0), bands(1), bands(2), bands(3)))
        }
      }
    }.toDF(idCol, "b0", "b1", "b2", "b3")
  }

  /** Perceptual near-duplicate pairs from banded 64-bit fingerprints
    * ([[aHash]], [[audioEnvelopeHash]], [[videoEnvelopeHash]] — the
    * pairing is modality-agnostic): candidates share at least one 16-bit
    * band (banded LSH — by pigeonhole over 4 bands, Hamming distance ≤ 3
    * GUARANTEES a shared band; pairs at distance 4..maxHamming are found
    * with high probability when differing bits cluster, the standard
    * banded-LSH recall trade), verified by exact Hamming distance ≤
    * `maxHamming` over the full 64 bits. Pairs only form within band
    * buckets, and `maxBucketSize` (ON by default, same convention as the
    * text/embedding near-dup family) drops degenerate buckets — a band
    * value shared by thousands of items carries no signal and would pair
    * quadratically; oracle-exhaustive queries opt out with `None`.
    */
  def aHashNearDup(hashes: DataFrame, idCol: String, maxHamming: Int,
      maxBucketSize: Option[Int] = Some(1000)): DataFrame = {
    val banded = (0 to 3).map(k =>
      hashes.select(col(idCol).as("id"), lit(k).as("band"), col(s"b$k").as("sig")))
      .reduce(_.unionAll(_))
    val cand = Dedup.bandedCandidatePairs(banded, "id", Seq("band", "sig"),
      maxBucketSize)
    val h1 = hashes.columns.foldLeft(hashes)((d, c) => d.withColumnRenamed(c, c + "_1"))
    val h2 = hashes.columns.foldLeft(hashes)((d, c) => d.withColumnRenamed(c, c + "_2"))
    val hamming = (0 to 3).map(k =>
      bit_count(col(s"b${k}_1").bitwiseXOR(col(s"b${k}_2"))))
      .reduce(_ + _)
    cand.join(h1, col("id1") === col(s"${idCol}_1"))
      .join(h2, col("id2") === col(s"${idCol}_2"))
      .withColumn("hamming", hamming.cast(org.apache.spark.sql.types.LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** One-time per-JVM ImageIO setup: headless AWT (executors have no
    * display) and no disk-backed stream cache (decode stays in-memory —
    * an executor-local temp file per image would be a hidden I/O tax).
    */
  private lazy val imageIoReady: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** REAL image decode via `javax.imageio` (JDK built-in; PNG, JPEG, GIF,
    * BMP, WBMP): bytes → (width, height, 8-bit grayscale pixels, row-major).
    * Grayscale sources read their raster directly (bit-exact — the
    * property the PNG round-trip oracle relies on); color sources reduce
    * through integer ITU-R BT.601 luma ((299R + 587G + 114B) / 1000), the
    * same deterministic arithmetic an external oracle can re-derive.
    * Returns None for bytes no installed reader recognizes (caller routes
    * those to [[decodeStub]] / sidelining).
    */
  def decodeImageToGrayscale(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    imageIoReady
    if (bytes == null || bytes.length == 0) return None
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    val pix = new Array[Byte](w * h)
    if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
      img.getRaster.getDataElements(0, 0, w, h, pix)
    } else {
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < rgb.length) {
        val p = rgb(i)
        val lum = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000
        pix(i) = lum.toByte
        i += 1
      }
    }
    Some((w, h, pix))
  }

  /** PNG-encode a raw 8-bit grayscale payload (height = length/width) —
    * the producer side of the image path, used to build real compressed
    * payloads from raw pixels inside a pipeline (and to prove the decode
    * path round-trips losslessly). Rows whose payload is shorter than one
    * row of pixels are dropped, mirroring [[resizeRawGrayscale]].
    */
  def encodeGrayscalePng(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, widthCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val wIdx = df.schema.fieldIndex(widthCol)
    df.mapPartitions { rows =>
      imageIoReady
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val w = r.getInt(wIdx)
        if (bytes == null || w <= 0 || bytes.length < w) None
        else {
          val h = bytes.length / w
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          img.getRaster.setDataElements(0, 0, w, h, java.util.Arrays.copyOf(bytes, w * h))
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          Some((r.getLong(idIdx), out.toByteArray))
        }
      }
    }.toDF(idCol, "png")
  }

  /** REAL compressed-image pipeline stage: decode (JPEG/PNG/... via
    * `javax.imageio`) → grayscale → block-mean resize + luminance stats —
    * the same output contract as [[resizeRawGrayscale]], for payloads that
    * are actual image files rather than raw pixel buffers. Undecodable
    * payloads are dropped (a production pipeline sidelines them; keeping
    * the operator total-on-decodable keeps its schema clean). Decoder
    * setup happens once per partition via [[imageIoReady]].
    */
  def decodeResizeGrayscale(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, targetW: Int, targetH: Int): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      imageIoReady
      rows.flatMap { r =>
        decodeImageToGrayscale(r.getAs[Array[Byte]](binIdx)).map {
          case (w, h, pix) => thumbRow(r.getLong(idIdx), pix, w, h, targetW, targetH)
        }
      }
    }.toDF(idCol, "width", "height", "thumbnail", "mean_luminance", "stddev_luminance")
  }

  /** 256-gray palette shared by the GIF frame path (palette index == gray
    * value, so indexed encode/decode is bit-lossless).
    */
  @transient private lazy val grayPalette: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate[Byte](256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Raw grayscale payload → ANIMATED GIF (GIF89a, one image per
    * consecutive frameW×frameH byte block; partial tail dropped) — the
    * producer side of the real video-like container path. Interlacing is
    * explicitly disabled: the JDK writer's progressive mode permutes rows
    * on short frames. Palette index == gray value, and GIF LZW is
    * lossless, so decode must recover every frame byte exactly.
    */
  def encodeFramesGif(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, frameW: Int, frameH: Int): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val frameBytes = frameW * frameH
    df.mapPartitions { rows =>
      imageIoReady
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.length < frameBytes) None
        else {
          val n = bytes.length / frameBytes
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          wr.setOutput(ios)
          val p = wr.getDefaultWriteParam
          p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
          wr.prepareWriteSequence(null)
          var f = 0
          while (f < n) {
            val img = new java.awt.image.BufferedImage(frameW, frameH,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
            img.getRaster.setDataElements(0, 0, frameW, frameH,
              java.util.Arrays.copyOfRange(bytes, f * frameBytes, (f + 1) * frameBytes))
            wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), p)
            f += 1
          }
          wr.endWriteSequence()
          ios.close()
          wr.dispose()
          Some((r.getLong(idIdx), bos.toByteArray))
        }
      }
    }.toDF(idCol, "gif")
  }

  /** REAL frame sampling from an animated-image container: decode every
    * `stride`-th frame of a multi-frame GIF through the JDK codec and
    * return its grayscale bytes + mean luminance. This is [[sampleFrames]]
    * with an actual container and codec in the loop — frame count comes
    * from the container index, pixels from LZW decode, grayscale via the
    * same integer luma as [[decodeImageToGrayscale]]. Undecodable payloads
    * are dropped.
    */
  def decodeGifFrames(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, stride: Int): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      imageIoReady
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.length == 0) Iterator.empty
        else {
          val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          // decode eagerly INSIDE the try: a lazy iterator would pull
          // rd.read() after this block, escaping both catch and dispose
          try {
            rd.setInput(javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes)))
            val n = rd.getNumImages(true)
            (0 until n by stride).toVector.map { f =>
              val img = rd.read(f)
              val w = img.getWidth
              val h = img.getHeight
              val px = new Array[Byte](w * h)
              var sum = 0L
              var i = 0
              while (i < px.length) {
                val p = img.getRGB(i % w, i / w)
                val lum = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
                  114 * (p & 0xff)) / 1000
                px(i) = lum.toByte
                sum += lum
                i += 1
              }
              (r.getLong(idIdx), f, w, h, px, sum.toDouble / (w * h))
            }.iterator
          } catch {
            case _: java.io.IOException => Iterator.empty
            case _: java.util.NoSuchElementException => Iterator.empty
          } finally rd.dispose()
        }
      }
    }.toDF(idCol, "frame_idx", "width", "height", "frame", "mean_luminance")
  }

  /** 64-bit VIDEO fingerprint — the temporal×spatial analogue of
    * [[aHash]]: decode every frame of a multi-frame container through the
    * REAL JDK codec, pool luminance over an 8 temporal segments × 8
    * column blocks grid (the same integer boundary rule on both axes),
    * and set bit i = kt·8+ks iff cell_i · 64 ≥ Σ cells. A time-only
    * envelope carries ~nFrames values of entropy — on short clips that
    * degenerates bands into huge buckets; crossing in the spatial axis
    * restores image-hash-grade discrimination while staying
    * re-encoding-robust at fixed resolution (lossless codecs reproduce
    * sums exactly). Emitted as the same four 16-bit bands, so
    * [[aHashNearDup]] pairs videos unchanged — banding + Hamming are
    * modality-agnostic across image, audio, and video.
    */
  def videoEnvelopeHash(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      imageIoReady
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.length == 0) None
        else {
          var rd: javax.imageio.ImageReader = null
          var iis: javax.imageio.stream.ImageInputStream = null
          try {
            rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
            iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes))
            rd.setInput(iis)
            val n = rd.getNumImages(true)
            if (n == 0) None
            else {
              // per-frame 8 column-block luma sums (all rows)
              val blocks = Array.ofDim[Long](n, 8)
              var f = 0
              while (f < n) {
                val img = rd.read(f)
                val w = img.getWidth
                val h = img.getHeight
                var ks = 0
                while (ks < 8) {
                  val x0 = ks * w / 8
                  val x1 = math.max(x0 + 1, (ks + 1) * w / 8)
                  var sum = 0L
                  var x = x0
                  while (x < x1) {
                    var y = 0
                    while (y < h) {
                      val p = img.getRGB(x, y)
                      sum += (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
                        114 * (p & 0xff)) / 1000
                      y += 1
                    }
                    x += 1
                  }
                  blocks(f)(ks) = sum
                  ks += 1
                }
                f += 1
              }
              val env = new Array[Long](64)
              var kt = 0
              while (kt < 8) {
                val f0 = kt * n / 8
                val f1 = math.max(f0 + 1, (kt + 1) * n / 8)
                var ks = 0
                while (ks < 8) {
                  var s = 0L
                  var j = f0
                  while (j < f1) { s += blocks(j)(ks); j += 1 }
                  env(kt * 8 + ks) = s / (f1 - f0)
                  ks += 1
                }
                kt += 1
              }
              val total = env.sum
              val bands = new Array[Long](4)
              var i = 0
              while (i < 64) {
                if (env(i) * 64 >= total) bands(i / 16) |= 1L << (i % 16)
                i += 1
              }
              Some((r.getLong(idIdx), bands(0), bands(1), bands(2), bands(3)))
            }
          } catch {
            case _: java.io.IOException => None
            case _: java.util.NoSuchElementException => None
          } finally {
            if (rd != null) rd.dispose()
            if (iis != null) iis.close()
          }
        }
      }
    }.toDF(idCol, "b0", "b1", "b2", "b3")
  }

  /** PCM16 → WAV container (44-byte RIFF header + little-endian samples) —
    * the producer side of the audio path. Odd trailing bytes are dropped
    * (a sample is two bytes). Pure byte assembly; PCM is lossless, so
    * decode(encode(samples)) must round-trip exactly.
    */
  def encodePcm16Wav(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String, sampleRate: Int = 16000): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.length < 2) None
        else {
          val dataLen = bytes.length & ~1
          val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          bb.putInt(36 + dataLen)
          bb.put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          bb.put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          bb.putInt(16)            // PCM fmt chunk size
          bb.putShort(1)           // audio format: PCM
          bb.putShort(1)           // channels: mono
          bb.putInt(sampleRate)
          bb.putInt(sampleRate * 2) // byte rate (16-bit mono)
          bb.putShort(2)           // block align
          bb.putShort(16)          // bits per sample
          bb.put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          bb.putInt(dataLen)
          bb.put(bytes, 0, dataLen)
          Some((r.getLong(idIdx), bb.array()))
        }
      }
    }.toDF(idCol, "wav")
  }

  /** Shared container→PCM16 decode (JDK codec; WAV, AIFF, AU). Only
    * 16-bit mono PCM_SIGNED streams are supported — any other encoding
    * (including 16-bit PCM_UNSIGNED, which the previous inline decoders
    * silently misread as big-endian signed) returns None and is dropped
    * like any unsupported payload. Returns (sampleRate, samples).
    */
  private[operators] def decodePcm16Samples(
      bytes: Array[Byte]): Option[(Float, Array[Int])] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val raw = in.readAllBytes()
          val little = !fmt.isBigEndian
          val n = raw.length / 2
          val out = new Array[Int](n)
          var i = 0
          while (i < n) {
            val lo = raw(2 * i) & 0xff
            val hi = raw(2 * i + 1) & 0xff
            val u = if (little) lo | (hi << 8) else hi | (lo << 8)
            out(i) = if (u >= 0x8000) u - 0x10000 else u
            i += 1
          }
          Some((fmt.getSampleRate, out))
        }
      } finally in.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }
  }

  /** REAL audio decode via `javax.sound.sampled` (JDK built-in; WAV, AIFF,
    * AU — headless): container bytes → PCM16 samples → deterministic
    * features (sample count, duration, peak amplitude, RMS energy,
    * zero-crossing count). Sample sums of squares stay below 2^52, so the
    * double arithmetic is exact and an external engine reproduces every
    * feature bit-for-bit from the same samples. Undecodable payloads are
    * dropped (sidelining territory); compressed audio codecs (MP3/AAC/...)
    * have no JDK decoder and stay on [[decodeStub]].
    */
  def decodeAudioFeatures(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePcm16Samples(r.getAs[Array[Byte]](binIdx)).flatMap {
          case (rateF, samples) =>
            val n = samples.length
            if (n == 0) None
            else {
              var i = 0
              var sumSq = 0.0
              var peak = 0L
              var zc = 0L
              var prevSign = 0
              while (i < n) {
                val s = samples(i)
                sumSq += s.toDouble * s
                if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
                val sign = if (s > 0) 1 else if (s < 0) -1 else 0
                if (sign != 0) {
                  if (prevSign != 0 && sign != prevSign) zc += 1
                  prevSign = sign
                }
                i += 1
              }
              val rate = rateF.toDouble
              Some((r.getLong(idIdx), rate.toInt, n.toLong, n / rate,
                peak, math.sqrt(sumSq / n), zc))
            }
        }
      }
    }.toDF(idCol, "sample_rate", "n_samples", "duration_s",
      "peak_abs", "rms", "zero_crossings")
  }

  /** 64-bit audio energy-envelope hash — the audio member of the
    * perceptual-dedup family ([[aHash]] for images): decode the container
    * through the REAL JDK codec, frame the PCM16 stream into 64 segments
    * (the same integer boundary rule as the image block-pool), take each
    * frame's integer MEAN absolute amplitude, and set bit k iff
    * env_k · 64 ≥ Σ env — no division by a mean, pure integer arithmetic,
    * engine-exact. Emitted as four 16-bit bands compatible with
    * [[aHashNearDup]] (banding + exact-Hamming verification are
    * modality-agnostic). Time-stretch robustness comes free: the envelope
    * is relative to the clip's own duration and loudness.
    */
  def audioEnvelopeHash(spark: SparkSession, df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    import spark.implicits._
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decodePcm16Samples(r.getAs[Array[Byte]](binIdx)).flatMap {
          case (_, samples) =>
            val n = samples.length
            if (n == 0) None
            else {
              val amp = new Array[Long](n)
              var i = 0
              while (i < n) { amp(i) = math.abs(samples(i).toLong); i += 1 }
              val env = new Array[Long](64)
              var k = 0
              while (k < 64) {
                val f0 = k * n / 64
                val f1 = math.max(f0 + 1, (k + 1) * n / 64)
                var sum = 0L
                var j = f0
                while (j < f1) { sum += amp(j); j += 1 }
                env(k) = sum / (f1 - f0)
                k += 1
              }
              val total = env.sum
              val bands = new Array[Long](4)
              i = 0
              while (i < 64) {
                if (env(i) * 64 >= total) bands(i / 16) |= 1L << (i % 16)
                i += 1
              }
              Some((r.getLong(idIdx), bands(0), bands(1), bands(2), bands(3)))
            }
        }
      }
    }.toDF(idCol, "b0", "b1", "b2", "b3")
  }

  /** Frame-sampling shape for video-like payloads: split the byte stream
    * into fixed-size "frames", keep every `stride`-th — the plumbing of a
    * frame sampler with a stubbed decoder.
    */
  def sampleFrames(df: DataFrame, binCol: String, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(length(col(binCol)).cast(DoubleType) / frameBytes).cast(IntegerType)
    df.withColumn("frame_idx",
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride))))
      .withColumn("frame", expr(s"substring($binCol, frame_idx * $frameBytes + 1, $frameBytes)"))
  }
}
