package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.{Q, Tables}
import graft.io.Scratch
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio as opaque binary columns with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * operators.
  *
  * The codecs are REAL and ship with the JDK — `javax.imageio` encodes and
  * decodes PNG (lossless) and JPEG (lossy), `javax.sound.sampled` encodes
  * and decodes WAV (PCM, lossless). Payloads in the media table are genuine
  * PNG/JPEG/WAV files (magic bytes and all); every downstream operator
  * decodes those bytes and computes over the decoded pixels/samples.
  *
  * Execution shape (the part that matters at 100 TB): codecs run inside
  * `mapPartitions` with per-partition setup (iterator-in/iterator-out, the
  * JVM equivalent of a Pandas-batch UDF) — constant memory per task, no
  * driver involvement, embarrassingly parallel over however many
  * partitions the binary column arrives in.
  *
  * Mirrors the multimodal extension surface declared in SURVEY.md §2
  * (ext rows); the reference itself (manselmi/parquet-modular-encryption)
  * has no media path — this is engine-half functionality.
  */
object Multimodal {

  /** A media asset: real encoded payload + typed metadata.
    * For images, `width`/`height` are pixel dims; for WAV, `width` is the
    * sample count and `height` is 1.
    */
  final case class MediaRecord(
      doc_id: Long, format: String, width: Int, height: Int,
      media: Array[Byte])

  /** Features extracted per asset, computed from DECODED pixels/samples.
    * `n_bytes` is the encoded payload size; `n_px` the decoded
    * pixel/sample count; `mean_byte`/`byte_entropy` are over decoded
    * 8-bit values.
    */
  final case class MediaFeatures(
      doc_id: Long, format: String, n_bytes: Int, n_px: Int,
      mean_byte: Double, byte_entropy: Double)

  /** One sampled frame of the decoded buffer. */
  final case class Frame(
      doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte], frame_hash: Long)

  val formats = Seq("png", "jpeg", "wav")

  /** Deterministic raw 8-bit content (pixels or PCM samples): xorshift64
    * stream seeded by doc_id.
    */
  private[graft] def rawContent(seed: Long, n: Int): Array[Byte] = {
    var x = seed ^ 0x9E3779B97F4A7C15L
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      out(i) = (x & 0xFF).toByte
      i += 1
    }
    out
  }

  // ---- real encoders (JDK built-in) ------------------------------------

  /** Encode an 8-bit grayscale buffer as a real PNG or JPEG via ImageIO. */
  private[graft] def encodeImage(gray: Array[Byte], w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, gray)
    val baos = new ByteArrayOutputStream()
    ImageIO.setUseCache(false) // in-memory, no temp-file cache on executors
    val writerFmt = if (fmt == "jpeg") "jpg" else fmt
    require(ImageIO.write(img, writerFmt, baos), s"no ImageIO writer for $fmt")
    baos.toByteArray
  }

  private val wavFormat =
    new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED, 8000f, 8, 1, 1, 8000f, false)

  /** Encode 8-bit unsigned PCM samples as a real WAV via javax.sound. */
  private[graft] def encodeWav(samples: Array[Byte]): Array[Byte] = {
    val ais = new AudioInputStream(
      new ByteArrayInputStream(samples), wavFormat, samples.length.toLong)
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  // ---- real decoder ----------------------------------------------------

  /** Decode a payload to (8-bit buffer, width, height). PNG/WAV round-trip
    * losslessly; JPEG decodes to whatever the lossy codec preserved.
    */
  private[graft] def decode(format: String, media: Array[Byte]): (Array[Byte], Int, Int) =
    format match {
      case "png" | "jpeg" =>
        val img = ImageIO.read(new ByteArrayInputStream(media))
        require(img != null, s"ImageIO could not decode $format payload")
        val w = img.getWidth; val h = img.getHeight
        val gray =
          if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
          else {
            val g = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
            val g2 = g.createGraphics(); g2.drawImage(img, 0, 0, null); g2.dispose()
            g
          }
        val buf = new Array[Byte](w * h)
        gray.getRaster.getDataElements(0, 0, w, h, buf)
        (buf, w, h)
      case "wav" =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(media))
        val out = new ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = ais.read(tmp)
        while (n > 0) { out.write(tmp, 0, n); n = ais.read(tmp) }
        ais.close()
        val samples = out.toByteArray
        (samples, samples.length, 1)
      case other => throw new IllegalArgumentException(s"unknown media format: $other")
    }

  /** Synthesize a media table from the documents corpus: one asset per
    * doc, format round-robin, dimensions derived from doc length, payload
    * a REAL encoded PNG/JPEG/WAV of deterministic content.
    */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // per-partition codec setup
        rows.map { case (id, nChars) =>
          val fmt = formats((id % formats.size).toInt)
          fmt match {
            case "wav" =>
              val n = 64 + (nChars % 192).toInt // 64..255 PCM samples
              MediaRecord(id, fmt, n, 1, encodeWav(rawContent(id, n)))
            case _ =>
              val w = 8 + (nChars % 24).toInt
              val h = 8 + (id % 16).toInt
              MediaRecord(id, fmt, w, h, encodeImage(rawContent(id, w * h), w, h, fmt))
          }
        }
      }
  }

  /** Decode + feature-extract, batched per partition: real codec work on
    * each payload, stats over the decoded 8-bit buffer.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      ImageIO.setUseCache(false) // per-partition codec setup
      records.map { r =>
        val (buf, _, _) = decode(r.format, r.media)
        val counts = new Array[Long](256)
        var sum = 0.0
        buf.foreach { b => val u = b & 0xFF; counts(u) += 1; sum += u }
        val n = buf.length.toDouble
        val entropy = counts.foldLeft(0.0) { (acc, c) =>
          if (c == 0) acc else { val p = c / n; acc - p * math.log(p) / math.log(2) }
        }
        MediaFeatures(r.doc_id, r.format, r.media.length, buf.length,
          sum / n, math.rint(entropy * 10000) / 10000)
      }
    }
  }

  /** Resize: decode, nearest-neighbor resample the decoded buffer, re-encode
    * with the same codec. For WAV, "resize" is sample-rate-style decimation
    * to `newW` samples (height stays 1).
    */
  def resize(media: Dataset[MediaRecord], newW: Int, newH: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      ImageIO.setUseCache(false)
      records.map { r =>
        val (buf, w, h) = decode(r.format, r.media)
        if (r.format == "wav") {
          val out = new Array[Byte](newW)
          var i = 0
          while (i < newW) { out(i) = buf(i * w / newW); i += 1 }
          r.copy(width = newW, height = 1, media = encodeWav(out))
        } else {
          val out = new Array[Byte](newW * newH)
          var y = 0
          while (y < newH) {
            var x = 0
            while (x < newW) {
              out(y * newW + x) = buf((y * h / newH) * w + (x * w / newW))
              x += 1
            }
            y += 1
          }
          r.copy(width = newW, height = newH,
            media = encodeImage(out, newW, newH, r.format))
        }
      }
    }
  }

  /** Frame sampling: decode, split the decoded buffer into `n` chunks
    * ("frames") with a content hash each — the video-keyframe-extraction
    * shape (decode once per asset, emit many frames).
    */
  def sampleFrames(media: Dataset[MediaRecord], n: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      ImageIO.setUseCache(false)
      records.flatMap { r =>
        val (buf, _, _) = decode(r.format, r.media)
        val chunk = math.max(1, buf.length / n)
        (0 until n).iterator.map { i =>
          val from = math.min(i * chunk, buf.length)
          val until = if (i == n - 1) buf.length else math.min(from + chunk, buf.length)
          val bytes = java.util.Arrays.copyOfRange(buf, from, until)
          Frame(r.doc_id, i, bytes, java.util.Arrays.hashCode(bytes).toLong)
        }
      }
    }
  }

  /** Q40 — multimodal feature pipeline: synth real PNG/JPEG/WAV → decode →
    * per-format stats over decoded content. Rows-only driver check (the
    * payloads are synthetic); MultimodalSpec pins decoded-stat values.
    */
  val q40: Q = Q(
    "q40_multimodal_features",
    (s, d) => {
      extractFeatures(mediaTable(s, d)).toDF()
        .groupBy("format")
        .agg(count(lit(1)).as("n_assets"),
          round(avg(col("mean_byte")), 2).as("avg_mean_byte"),
          round(avg(col("byte_entropy")), 2).as("avg_entropy"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("n_px")).as("total_px"))
        .orderBy("format")
    },
    None)

  /** Asset-store export fixture: the first 240 media assets written as
    * individual REAL .png/.jpeg/.wav files by the EXECUTORS
    * (foreachPartition — one object per asset to the shared store;
    * /dev/shm locally, a DFS/object-store prefix on a cluster — the
    * driver never holds the corpus). Built once per dataset generation
    * in the "assets" scratch area ([[graft.io.Scratch]]); the marker
    * lands after the last partition's files.
    */
  private[ops] def assetDir(s: SparkSession, d: String): String =
    Scratch.fixture("assets", d, "assets") { dir =>
      new java.io.File(dir).mkdirs()
      mediaTable(s, d).filter(_.doc_id < 240).foreachPartition {
        (it: Iterator[MediaRecord]) =>
          it.foreach { r =>
            val f = new java.io.File(dir, s"${r.doc_id}.${r.format}")
            val os = new java.io.FileOutputStream(f)
            try os.write(r.media) finally os.close()
          }
      }
    }

  /** Q88 — `binaryFile` source ingestion: the multimodal pipeline's real
    * entry point. Assets land in an object store as loose media files,
    * Spark's binaryFile format lists and reads them in parallel
    * (path/length/content rows, hidden `_`/`.` files skipped), identity
    * and format are recovered from the object key, and the SAME decode +
    * feature kernels as q40 run downstream — per-format census over the
    * store. BinarySourceSpec pins ingestion fidelity: this census is
    * row-identical to the one computed from the in-memory media table
    * the files were exported from (encode → store → list → read →
    * decode is lossless end to end). Rows-only in the driver gate
    * (DuckDB reads no media), law-pinned by the spec.
    */
  val q88: Q = Q(
    "q88_binary_source",
    (s, d) => {
      import s.implicits._
      val dir = assetDir(s, d)
      val recs = s.read.format("binaryFile").load(dir)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          val fname = path.substring(path.lastIndexOf('/') + 1)
          val dot = fname.lastIndexOf('.')
          MediaRecord(fname.substring(0, dot).toLong, fname.substring(dot + 1),
            0, 0, bytes)
        }
      extractFeatures(recs).toDF()
        .groupBy("format")
        .agg(count(lit(1)).as("n_assets"),
          sum(col("n_bytes")).as("total_bytes"),
          round(avg(col("mean_byte")), 2).as("avg_mean_byte"),
          round(avg(col("byte_entropy")), 2).as("avg_entropy"))
        .orderBy("format")
    },
    None)

  val queries: Seq[Q] = Seq(q40, q88)
}
