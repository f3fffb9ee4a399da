package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media payloads travel as opaque
  * `binary` columns with a typed metadata struct, and decode /
  * feature-extract runs batch-at-a-time per partition.
  *
  * The image path is REAL: payloads are genuine PNG/BMP bytes
  * (encoded executor-side with `javax.imageio`, the JDK's offline
  * codec) and every consumer decodes them back through
  * `ImageIO.read` inside the batched per-partition boundary before
  * computing features. Because both formats are lossless for 8-bit
  * grayscale, the DuckDB oracles can replay the pixel arithmetic
  * from the source text without decoding — a hash-green correctness
  * row therefore PROVES the encode→decode round trip is exact, not
  * just that the plumbing moves bytes. The reference runs the same
  * shape with a python blockhash over real images
  * (`matching/analyser/PictureHashAnalyser2.scala:48,71-125`); here
  * the codec and the hash are both JVM-native.
  *
  * At 100 TB the payload column stays out of every shuffle until
  * after feature extraction because the plumbing projects it away
  * eagerly, and decode cost amortizes per partition batch (the
  * `mapInPandas` shape: one buffer of rows per call, not one call
  * per row).
  */
object Multimodal {

  // ---- real image codec (JDK ImageIO) --------------------------------

  /** One-time per-JVM ImageIO setup: the disk cache would turn every
    * executor-side encode/decode into tmp-file I/O. */
  @transient private lazy val imageIoReady: Boolean = {
    ImageIO.setUseCache(false)
    true
  }

  /** Encode a row-major w×h 8-bit grayscale pixel array as a real
    * image ("png" or "bmp" — both lossless for TYPE_BYTE_GRAY and
    * both available offline in the JDK). */
  def encodeGray(pixels: Array[Byte], w: Int, h: Int,
                 format: String): Array[Byte] = {
    require(imageIoReady && pixels.length == w * h,
      s"pixel buffer ${pixels.length} != ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels)
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, format, bos), s"no ImageIO writer for $format")
    bos.toByteArray
  }

  /** Decode an image payload back to (w, h, row-major grayscale
    * bytes). TYPE_BYTE_GRAY rasters are read directly (getRGB on a
    * gray image applies a colorspace transform — NOT value-preserving,
    * the classic Java gotcha); any other decoded type (e.g. an
    * indexed-palette BMP) takes one channel of getRGB, exact whenever
    * the channels are equal, which gray sources guarantee. */
  def decodeGray(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(imageIoReady)
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h)
    if (img.getType == BufferedImage.TYPE_BYTE_GRAY) {
      img.getRaster.getDataElements(0, 0, w, h, out)
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = (img.getRGB(x, y) & 0xff).toByte; x += 1 }
        y += 1
      }
    }
    (w, h, out)
  }

  /** Square-tiling rule shared by the packers and the oracles: the
    * content bytes fill the smallest ≥16 square, zero-padded. */
  def squareSide(nBytes: Int): Int =
    math.max(16, math.ceil(math.sqrt(nBytes.toDouble)).toInt)

  // ---- generic binary packing (audio / raw payloads) ------------------

  /** Pack a text column as an opaque media payload (raw modalities —
    * u8 PCM audio, raw frame reels — where the bytes ARE the decoded
    * samples; the image path goes through [[packImages]]). */
  def packBinary(docs: DataFrame, idCol: String, textCol: String,
                 kind: String = "text/plain"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        length(encode(col(textCol), "UTF-8")).cast("int").as("n_bytes"),
        lit(kind).as("kind")).as("meta"))

  // ---- image packing (real PNG payloads) ------------------------------

  val imageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType),       // encoded payload size
      StructField("content_bytes", IntegerType), // pre-padding content
      StructField("kind", StringType),
      StructField("w", IntegerType),
      StructField("h", IntegerType))))))

  /** Pack each document as a REAL grayscale image: the text bytes are
    * tiled row-major into the smallest ≥16 square (zero-padded) and
    * encoded as PNG/BMP executor-side. Batched per partition so the
    * codec gets amortized buffers, and the iterator never materializes
    * the partition. */
  def packImages(docs: DataFrame, idCol: String, textCol: String,
                 format: String = "png", batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(imageSchema)
    val kind = s"image/$format"
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            // null text packs as an empty payload (the encode(col,
            // 'UTF-8') path this replaced was null-safe; keep that)
            val text = if (r.isNullAt(1)) "" else r.getString(1)
            val bytes = text.getBytes("UTF-8")
            val side = squareSide(bytes.length)
            val pixels = java.util.Arrays.copyOf(bytes, side * side)
            val img = encodeGray(pixels, side, side, format)
            Row(r.getLong(0), img,
              Row(img.length, bytes.length, kind, side, side))
          }
        }
      }(enc)
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("content_bytes", IntegerType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** Batched per-partition feature extraction over REAL image
    * payloads: ImageIO-decode each image and reduce the pixels to an
    * 8-bucket intensity histogram (bucket = value >> 5). Rows are
    * pulled through a fixed-size buffer so the codec gets amortized
    * batches; the iterator never materializes the partition. */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("doc_id", "payload", "meta.content_bytes")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (w, h, px) = decodeGray(r.getAs[Array[Byte]](1))
            val hist = new Array[Float](8)
            var i = 0
            while (i < px.length) { hist((px(i) & 0xff) >> 5) += 1f; i += 1 }
            Row(r.getLong(0), r.getInt(2), w, h, hist.toSeq)
          }
        }
      }(enc)
  }

  val audioFrameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy_ssq", LongType),
    StructField("peak", IntegerType),
    StructField("n_zero_cross", IntegerType)))

  /** Audio-path plumbing (the third modality beside image and video):
    * the payload is treated as unsigned-8-bit mono PCM and reduced
    * per fixed-size frame to the classic audio features — energy
    * (sum of squared centered samples), peak amplitude, zero
    * crossings. u8 PCM's "decode" IS the byte read; the centering
    * ramp derives a bipolar waveform from byte value and position
    * (ASCII payloads are unipolar). Batched per partition like
    * [[extractFeatures]]; integer-only output so the oracle compare
    * is exact. */
  def audioFrames(media: DataFrame, frameSize: Int = 256): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioFrameSchema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val doc = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val nFrames = (bytes.length + frameSize - 1) / frameSize
          (0 until nFrames).iterator.map { f =>
            val start = f * frameSize
            val end = math.min(start + frameSize, bytes.length)
            var ssq = 0L; var peak = 0; var zc = 0
            var prev = 0; var first = true
            var i = start
            while (i < end) {
              // bipolar centering: sample from byte value + position.
              // Ramp in Long: i*7 overflows Int past ~306 MB docs and
              // a negative % would silently diverge from the BIGINT
              // oracle (ADVICE r12) — same value below the threshold.
              val c = ((((bytes(i) & 0xff).toLong * 31 + i.toLong * 7)
                % 256).toInt) - 128
              ssq += c.toLong * c
              if (math.abs(c) > peak) peak = math.abs(c)
              if (!first && c * prev < 0) zc += 1
              prev = c; first = false; i += 1
            }
            Row(doc, f, end - start, ssq, peak, zc)
          }
        }
      }(enc)
  }

  // ---- audio: real RIFF/WAV PCM16 container (JDK javax.sound) ---------

  /** Schema of a packed WAV payload (same shape as [[imageSchema]]:
    * opaque binary + typed metadata). */
  val wavSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType),   // container size incl. header
      StructField("n_samples", IntegerType), // PCM16 sample count
      StructField("kind", StringType))))))

  /** Derive the deterministic bipolar 16-bit sample for text byte `b`
    * at position `i` — the [[audioFrames]] centering ramp scaled to
    * PCM16 (c8 ∈ [−128,127] → c8·256 ∈ [−32768,32512], exactly the
    * int16 range, so the sample survives the container round trip
    * bit-for-bit and the oracle can replay it from the byte+position).
    *
    * Ramp arithmetic in Long: `i * 7` overflows Int once a document
    * passes ~306 MB, and the negative `%` result would escape the
    * int16 range and silently diverge from the oracle's BIGINT
    * spelling (ADVICE r12); Long keeps the two engines identical at
    * any document size (the oracle side holds up its end with BIGINT
    * substr positions — ADVICE r13 — so neither engine re-introduces
    * a 32-bit position cap). */
  def pcm16Sample(b: Byte, i: Int): Int =
    (((((b & 0xff).toLong * 31 + i.toLong * 7) % 256).toInt) - 128) * 256

  /** Pack each document as a GENUINE RIFF/WAV PCM16 mono file: the
    * text bytes become bipolar 16-bit samples ([[pcm16Sample]]) and
    * `javax.sound.sampled.AudioSystem` writes the container (header +
    * fmt chunk + little-endian data chunk) executor-side — the audio
    * analogue of [[packImages]]' ImageIO path, pure JDK, no native
    * audio device touched. Batched per partition. */
  def packWav(docs: DataFrame, idCol: String, textCol: String,
              sampleRate: Int = 8000, batchSize: Int = 64): DataFrame = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val enc = org.apache.spark.sql.Encoders.row(wavSchema)
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val text = if (r.isNullAt(1)) "" else r.getString(1)
            val bytes = text.getBytes("UTF-8")
            val pcm = new Array[Byte](bytes.length * 2)
            var i = 0
            while (i < bytes.length) {
              val s = pcm16Sample(bytes(i), i)
              pcm(2 * i) = (s & 0xff).toByte            // little-endian
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            val fmt = new AudioFormat(sampleRate.toFloat, 16, 1,
              /*signed=*/ true, /*bigEndian=*/ false)
            val ais = new AudioInputStream(
              new ByteArrayInputStream(pcm), fmt, bytes.length.toLong)
            val bos = new ByteArrayOutputStream()
            AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
            val wav = bos.toByteArray
            Row(r.getLong(0), wav,
              Row(wav.length, bytes.length, "audio/wav-pcm16"))
          }
        }
      }(enc)
  }

  /** Parse a RIFF/WAV payload back to (sampleRate, bitsPerSample,
    * samples) through the JDK's container parser — header fields come
    * from the parsed fmt chunk, samples from the data chunk, so a
    * hash-green consumer proves genuine container parsing, not a byte
    * read. Rejects anything but signed little-endian mono PCM16. */
  def parseWav(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val f = ais.getFormat
    require(f.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
      f.getChannels == 1 && f.getSampleSizeInBits == 16 && !f.isBigEndian,
      s"unsupported WAV format: $f")
    val data = ais.readAllBytes()
    val n = data.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (data(2 * i) & 0xff) | (data(2 * i + 1).toInt << 8)
      i += 1
    }
    (f.getSampleRate.toInt, f.getSampleSizeInBits, out)
  }

  val wavFrameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy_ssq", LongType),
    StructField("peak", IntegerType),
    StructField("n_zero_cross", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType)))

  /** Per-frame features over PARSED WAV payloads ([[audioFrames]]'
    * features driven by a real container parse): each frameSize-sample
    * frame of the decoded PCM16 stream reduces to energy / peak / zero
    * crossings, with sample_rate and bits carried from the parsed
    * header so a hash row also pins the fmt-chunk round trip. */
  def wavFrames(media: DataFrame, frameSize: Int = 256,
                batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(wavFrameSchema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.flatMap { r =>
            val doc = r.getLong(0)
            val (rate, bits, samples) = parseWav(r.getAs[Array[Byte]](1))
            val nFrames = (samples.length + frameSize - 1) / frameSize
            (0 until nFrames).map { f =>
              val start = f * frameSize
              val end = math.min(start + frameSize, samples.length)
              var ssq = 0L; var peak = 0; var zc = 0
              var prev = 0; var first = true
              var i = start
              while (i < end) {
                val c = samples(i)
                ssq += c.toLong * c
                if (math.abs(c) > peak) peak = math.abs(c)
                if (!first && c.toLong * prev < 0) zc += 1
                prev = c; first = false; i += 1
              }
              Row(doc, f, end - start, ssq, peak, zc, rate, bits)
            }
          }
        }
      }(enc)
  }

  /** Block-mean downscale of a row-major grayscale image (the resize
    * step of the media path; same block partitioning rule as
    * [[blockhash256]], so a thumb's blocks match the hash's blocks).
    * Deterministic integer arithmetic — mean rounded half-up. */
  def resizeGray(pixels: Array[Byte], w: Int, h: Int,
                 tw: Int, th: Int): Array[Byte] = {
    val sums = new Array[Long](tw * th)
    val counts = new Array[Long](tw * th)
    var y = 0
    while (y < h) {
      val by = math.min(y * th / h, th - 1)
      var x = 0
      while (x < w) {
        val bx = math.min(x * tw / w, tw - 1)
        val i = by * tw + bx
        sums(i) += pixels(y * w + x) & 0xffL
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(tw * th) { i =>
      if (counts(i) == 0) 0.toByte
      else ((sums(i) + counts(i) / 2) / counts(i)).toByte
    }
  }

  /** ImageIO-decode each REAL image payload and emit a tw×th
    * block-mean thumbnail — the batched partition-level resize shape.
    * `means` carries the thumb values as ints alongside the binary so
    * downstream columns never depend on a UTF-8 hop (a decoded pixel
    * mean can exceed 0x7f on a general corpus). */
  def resizeThumbs(media: DataFrame, tw: Int, th: Int,
                   batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("w", IntegerType),
      StructField("h", IntegerType), StructField("thumb", BinaryType),
      StructField("means", ArrayType(IntegerType))))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (w, h, pixels) = decodeGray(r.getAs[Array[Byte]](1))
            val thumb = resizeGray(pixels, w, h, tw, th)
            Row(r.getLong(0), w, h, thumb, thumb.map(_ & 0xff).toSeq)
          }
        }
      }(enc)
  }

  // ---- video: reel of fixed-size REAL still frames ---------------------

  /** Encoded size of one frameContent-byte frame in the reel format.
    * Uncompressed 8-bit gray BMP of fixed dimensions has a fixed byte
    * size (header + palette + data), which is what makes a
    * concatenated reel frame-addressable — the property MJPEG-style
    * containers exploit. Computed once by encoding a reference frame. */
  def encodedFrameSize(frameContent: Int, format: String = "bmp"): Int = {
    val side = math.ceil(math.sqrt(frameContent.toDouble)).toInt
    require(side * side == frameContent, s"frameContent $frameContent not square")
    encodeGray(new Array[Byte](frameContent), side, side, format).length
  }

  /** Pack each document as a video-like REEL of real BMP stills: the
    * text is cut into frameContent-byte chunks, each chunk becomes a
    * √f×√f grayscale BMP (zero-padded tail), and the fixed-size
    * encoded frames concatenate into one payload.
    * meta.n_bytes = payload size, meta.content_bytes = text bytes. */
  def packFrameReel(docs: DataFrame, idCol: String, textCol: String,
                    frameContent: Int = 64, format: String = "bmp",
                    batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(imageSchema)
    val side = math.ceil(math.sqrt(frameContent.toDouble)).toInt
    require(side * side == frameContent, s"frameContent $frameContent not square")
    val kind = s"video/x-$format-reel"
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val text = if (r.isNullAt(1)) "" else r.getString(1)
            val bytes = text.getBytes("UTF-8")
            val nFrames = (bytes.length + frameContent - 1) / frameContent
            val bos = new ByteArrayOutputStream()
            var f = 0
            while (f < nFrames) {
              val px = new Array[Byte](frameContent)
              val start = f * frameContent
              val len = math.min(frameContent, bytes.length - start)
              System.arraycopy(bytes, start, px, 0, len)
              bos.write(encodeGray(px, side, side, format))
              f += 1
            }
            val reel = bos.toByteArray
            Row(r.getLong(0), reel,
              Row(reel.length, bytes.length, kind, side, side))
          }
        }
      }(enc)
  }

  /** Frame sampling over an opaque media payload (the video-path
    * plumbing shape): the payload is a sequence of fixed-size frames;
    * every `everyNth` frame becomes its own row. Pure Column
    * expressions (sequence → explode → substring), so the op stays in
    * whole-stage codegen and the payload bytes are never pulled into
    * JVM row objects. */
  def frameSample(media: DataFrame, frameBytes: Int, everyNth: Int): DataFrame =
    media
      // empty payloads yield zero frames; without the guard the
      // sequence upper bound is -1, which sequence() rejects at runtime
      .filter(col("meta.n_bytes") > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0L),
          expr(s"(meta.n_bytes + ${frameBytes - 1}) div $frameBytes") - 1,
          lit(everyNth.toLong))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")
          .as("frame"))

  /** ImageIO-decode sampled reel frames back to their content bytes:
    * each frame is a real BMP still whose pixels are the original
    * text chunk plus trailing zero padding. Text never contains NUL,
    * so trimming trailing zeros recovers the exact chunk — a
    * hash-green oracle row proves the whole encode→slice→decode
    * round trip. */
  def decodeFrameText(frames: DataFrame, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", LongType),
      StructField("frame_hex", StringType),
      StructField("frame_len", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    // frame content is reported as HEX BYTES, not a decoded string
    // (round 14): a 64-byte still window can split a multibyte UTF-8
    // sequence, so "the frame as text" is not well-defined on
    // non-ASCII corpora — that was q83's one scoped ASCII-only column
    // (round-13 screen). Hex of the unpadded bytes is byte-exact for
    // arbitrary UTF-8 in both engines, closing the exception.
    val hexDigits = "0123456789ABCDEF"
    frames.select("doc_id", "frame_idx", "frame")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (_, _, px) = decodeGray(r.getAs[Array[Byte]](2))
            var end = px.length
            while (end > 0 && px(end - 1) == 0) end -= 1
            val sb = new java.lang.StringBuilder(end * 2)
            var i = 0
            while (i < end) {
              sb.append(hexDigits((px(i) & 0xff) >> 4))
              sb.append(hexDigits(px(i) & 0xf))
              i += 1
            }
            Row(r.getLong(0), r.getLong(1), sb.toString, end)
          }
        }
      }(enc)
  }

  // ---- blockhash -----------------------------------------------------

  /** 256-bit blockhash (the published block-mean perceptual hash the
    * reference shells out to python for,
    * `matching/analyser/PictureHashAnalyser2.scala:48,71-125`): the
    * grayscale image is cut into 16×16 blocks; the hash has one bit
    * per block, set iff the block's mean exceeds the median of its
    * horizontal band (4 bands of 64 blocks — the banded median makes
    * the hash robust to global brightness shifts). JVM-pure, no
    * per-row subprocess. `pixels` is a row-major w×h grayscale byte
    * array; returns 4 longs (64 bits each, block order, MSB first). */
  def blockhash256(pixels: Array[Byte], w: Int, h: Int): Array[Long] = {
    val grid = 16
    val sums = new Array[Long](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val by = math.min(y * grid / h, grid - 1)
      var x = 0
      while (x < w) {
        val bx = math.min(x * grid / w, grid - 1)
        val i = by * grid + bx
        sums(i) += pixels(y * w + x) & 0xffL
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    val means = Array.tabulate(grid * grid)(i =>
      if (counts(i) == 0) 0.0 else sums(i).toDouble / counts(i))
    val bits = new Array[Int](grid * grid)
    var band = 0
    while (band < 4) {
      val slice = means.slice(band * 64, band * 64 + 64).sorted
      val median = (slice(31) + slice(32)) / 2.0
      var i = band * 64
      while (i < band * 64 + 64) {
        bits(i) = if (means(i) > median) 1 else 0
        i += 1
      }
      band += 1
    }
    Array.tabulate(4) { word =>
      var acc = 0L
      var i = word * 64
      while (i < word * 64 + 64) { acc = (acc << 1) | bits(i); i += 1 }
      acc
    }
  }

  /** ImageIO-decode each REAL image payload and blockhash the pixels.
    * Output: doc_id, w, h, hash words h0..h3. Batched like
    * [[extractFeatures]]. */
  def blockhashes(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("w", IntegerType),
      StructField("h", IntegerType), StructField("h0", LongType),
      StructField("h1", LongType), StructField("h2", LongType),
      StructField("h3", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("doc_id", "payload")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val (w, h, pixels) = decodeGray(r.getAs[Array[Byte]](1))
            val hash = blockhash256(pixels, w, h)
            Row(r.getLong(0), w, h, hash(0), hash(1), hash(2), hash(3))
          }
        }
      }(enc)
  }
}
