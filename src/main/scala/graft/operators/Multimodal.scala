package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines. Media travel as opaque `binary` columns with typed
  * metadata; decode / feature-extraction run per-partition so a real
  * decoder (JNI/FFI image lib) would amortize init across a batch —
  * the Scala analogue of arrow-batched Pandas UDFs.
  *
  * Two decoders behind the same partition-wise pipeline:
  *  - `imageIoDecode` — a REAL decode via `javax.imageio` (PNG/BMP/
  *    GIF/JPEG are pure-JVM, no native codecs), proving the pipeline
  *    end-to-end on genuine image bytes;
  *  - `fakeDecode` — a deterministic stand-in used by the
  *    oracle-checked q31 (the synthetic corpus has no real media, and
  *    the oracle must be engine-reproducible).
  *  - `wavDecode` — a REAL audio decode via `javax.sound.sampled`
  *    (WAV/AIFF/AU PCM are pure-JVM), extracting sample-rate/channel
  *    metadata plus RMS energy and zero-crossing rate — the two
  *    first-pass quality features of audio corpus filtering.
  *  - `aviFrames` / `sampleVideoFrames` — REAL video frame sampling:
  *    a pure-JVM AVI (RIFF) container walk feeding each MJPEG frame
  *    through the imageio decode above.
  * Compressed audio (mp3/opus) and inter-frame video codecs (H.264+)
  * aren't on the JVM: those decodes stay stubbed, with the schema /
  * batching / frame-sampling plumbing real and tested, so swapping in
  * an FFI decoder changes one function.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, media_len: Int,
      width: Int, height: Int, mean_byte: Double)

  /** Deterministic stand-in for a real image decoder: dimensions and a
    * "pixel mean" derived purely from the payload. A real
    * implementation replaces exactly this function. */
  def fakeDecode(r: MediaRow): MediaFeatures = {
    val len = r.content.length
    val mean = if (len == 0) 0.0
      else r.content.map(b => (b & 0xff).toLong).sum.toDouble / len
    MediaFeatures(r.doc_id, r.media_type, len,
      width = len % 640, height = len % 480, mean_byte = mean)
  }

  /** Real image decode via `javax.imageio` — pure JVM, handles
    * PNG/BMP/GIF/JPEG with no native codecs. Returns None for
    * payloads ImageIO can't parse (corrupt or non-image media), so a
    * mixed-quality corpus degrades to dropped rows, not task
    * failures. mean_byte = mean over all RGB channel values. */
  def imageIoDecode(r: MediaRow): Option[MediaFeatures] = {
    val img =
      // NonFatal, not just IOException: real-world corrupt images make
      // ImageIO throw CMMException (broken ICC profiles) and
      // IllegalArgumentException/AIOOBE (JPEG reader internals) — all
      // must degrade to a dropped row, never a dead task
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img).map { i =>
      val w = i.getWidth
      val h = i.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = i.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      MediaFeatures(r.doc_id, r.media_type, r.content.length, w, h,
        sum.toDouble / (3.0 * w * h))
    }
  }

  /** Partition-wise REAL decode: same shape as decodeFeatures, with
    * javax.imageio doing actual pixel work. Undecodable payloads are
    * dropped (flatMap) rather than failing the task. */
  def decodeFeaturesImageIo(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.flatMap(imageIoDecode))
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Long, duration_s: Double, rms: Double,
      zero_crossings: Long)

  /** Real audio decode via `javax.sound.sampled` — WAV/AIFF/AU PCM
    * parse is pure JVM (no audio device, no native codecs). Computes
    * the two standard first-pass corpus-quality features over channel
    * 0: RMS energy (silence / clipping detection) and zero-crossing
    * count (a crude spectral proxy). Returns None for payloads the
    * audio system can't parse or non-16-bit PCM — mixed-quality
    * corpora degrade to dropped rows, never dead tasks. */
  def wavDecode(r: MediaRow): Option[AudioFeatures] = {
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.content))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) {
        ais.close(); None
      } else {
        val bytes = ais.readAllBytes()
        ais.close()
        val frameSize = fmt.getFrameSize // bytes per frame, all channels
        val n = bytes.length / frameSize
        val big = fmt.isBigEndian
        var sumSq = 0.0
        var crossings = 0L
        var prevNeg = false
        var i = 0
        while (i < n) {
          val off = i * frameSize // channel 0 = first sample of frame
          val s = if (big)
            ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort
          else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
          val x = s / 32768.0
          sumSq += x * x
          val neg = s < 0
          if (i > 0 && neg != prevNeg) crossings += 1
          prevNeg = neg
          i += 1
        }
        val rate = fmt.getSampleRate.toInt
        Some(AudioFeatures(r.doc_id, rate, fmt.getChannels, 16, n,
          if (rate > 0) n.toDouble / rate else 0.0,
          if (n > 0) math.sqrt(sumSq / n) else 0.0, crossings))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-wise real audio decode — the audio face of
    * decodeFeaturesImageIo. */
  def decodeFeaturesWav(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.flatMap(wavDecode))
  }

  /** Media table synthesized from documents: the text payload plays
    * the role of encoded image bytes. In production this is a parquet
    * table with a real binary column — the schema and the pipeline
    * below are unchanged. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("media_type"),
        col("text").cast("binary").as("content"))
      .as[MediaRow]
  }

  /** Partition-wise decode: one decoder instance per partition, rows
    * streamed through it — the shape a JNI decoder needs. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real impl: val decoder = HeavyDecoder.open(); rows.map(decoder.decode)
      rows.map(fakeDecode)
    }
  }

  /** REAL video frame extraction, pure JVM: walk an AVI (RIFF)
    * container and return the compressed video frame payloads
    * (`##dc`/`##db` chunks inside the `movi` LIST, including frames
    * wrapped in `rec ` sub-LISTs). For the ubiquitous MJPEG-in-AVI
    * archival format each frame is a complete JPEG that
    * `javax.imageio` decodes with no native codecs — so frame
    * sampling + decode is genuinely end-to-end on the JVM. Malformed
    * or truncated containers yield the frames parsed so far (never a
    * task failure — the imageIoDecode degradation policy). */
  def aviFrames(bytes: Array[Byte]): Vector[Array[Byte]] = {
    def le32(off: Int): Long =
      if (off + 4 > bytes.length) -1L
      else (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      if (off + 4 > bytes.length) ""
      else new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val out = Vector.newBuilder[Array[Byte]]
    def isFrame(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.endsWith("dc") || id.endsWith("db"))
    // walk chunks in [from, until); descend into movi / rec LISTs
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= until) {
        val id = fourcc(off)
        val size = le32(off + 4)
        if (size < 0 || off + 8 + size > until) return // truncated
        val body = off + 8
        if (id == "LIST") {
          val listType = fourcc(body)
          if (listType == "movi" || (inMovi && listType == "rec "))
            walk(body + 4, body + size.toInt, inMovi = true)
        } else if (inMovi && isFrame(id) && size > 0) {
          out += java.util.Arrays.copyOfRange(bytes, body, body + size.toInt)
        }
        off = body + size.toInt + (size.toInt & 1) // chunks pad to even
      }
    }
    if (bytes.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "AVI ")
      walk(12, math.min(bytes.length, 8 + le32(4).toInt + 8), inMovi = false)
    out.result()
  }

  /** Every k-th video frame of each payload, decoded: (doc_id,
    * frame_idx, width, height, mean_byte). Partition-wise flatMap —
    * the container parse and the per-frame JPEG decode both amortize
    * across a batch, and frames that fail to decode drop out rather
    * than failing the task. */
  def sampleVideoFrames(media: Dataset[MediaRow], everyK: Int): DataFrame = {
    import media.sparkSession.implicits._
    require(everyK >= 1, "everyK must be >= 1")
    media.flatMap { r =>
      aviFrames(r.content).zipWithIndex.collect {
        case (jpeg, idx) if idx % everyK == 0 =>
          imageIoDecode(MediaRow(r.doc_id, "frame", jpeg))
            .map(f => (r.doc_id, idx, f.width, f.height, f.mean_byte))
      }.flatten
    }.toDF("doc_id", "frame_idx", "width", "height", "mean_byte")
  }

  /** Resize stub: nearest-neighbor subsample of the payload viewed as
    * a square-ish byte grid, down to (targetW x targetH). The index
    * arithmetic (source-grid inference, nearest-neighbor mapping,
    * bounds handling) is the real resize logic — bytes stand in for
    * pixels; a real implementation swaps the grid for decoded planes.
    * Partition-wise like decodeFeatures, so a native resizer amortizes
    * its init. */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): DataFrame = {
    import media.sparkSession.implicits._
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    media.mapPartitions { rows =>
      rows.map { r =>
        val len = r.content.length
        val w = math.max(1, math.ceil(math.sqrt(len.toDouble)).toInt)
        val h = math.max(1, (len + w - 1) / w)
        val out = new Array[Byte](targetW * targetH)
        var ty = 0
        while (ty < targetH) {
          val sy = ty * h / targetH
          var tx = 0
          while (tx < targetW) {
            val sx = tx * w / targetW
            val idx = sy * w + sx
            out(ty * targetW + tx) = if (idx < len) r.content(idx) else 0
            tx += 1
          }
          ty += 1
        }
        (r.doc_id, targetW, targetH, out)
      }
    }.toDF("doc_id", "width", "height", "pixels")
  }

  /** Oracle-checkable projection: binary length, hex content hash, and
    * the deterministic fake-decode features. */
  def q31MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = decodeFeatures(mediaTable(spark, dir))
    feats.toDF()
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        sha2(col("text").cast("binary"), 256).as("content_hash")), "doc_id")
      .select(col("doc_id"), col("media_type"), col("media_len"),
        col("width"), col("height"), col("mean_byte"), col("content_hash"))
  }
}
