package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

class MultimodalSpec extends AnyFunSuite with SparkFixture {

  test("decode pipeline preserves row count and emits sane features") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length === spark.read.parquet(s"$sfDir/documents.parquet").count())
    feats.foreach { f =>
      assert(f.media_len > 0)
      assert(f.mean_byte >= 32.0 && f.mean_byte <= 122.0) // ascii payload
      assert(f.width === f.media_len % 640)
    }
  }

  test("imageio decoder: real PNGs decode through the partition-wise pipeline") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // synthesize real PNGs: a 5x3 image of constant gray 100 and a
    // 7x2 of constant gray 30, plus one corrupt payload
    def png(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val ds = Seq(
      Multimodal.MediaRow(1L, "image", png(5, 3, 100)),
      Multimodal.MediaRow(2L, "image", png(7, 2, 30)),
      Multimodal.MediaRow(3L, "image", Array[Byte](1, 2, 3))).toDS()
      .repartition(2) // exercise >1 partition through mapPartitions
    val out = Multimodal.decodeFeaturesImageIo(ds).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L), "corrupt payload is dropped, not fatal")
    assert(out(1L).width === 5 && out(1L).height === 3)
    assert(out(1L).mean_byte === 100.0)
    assert(out(2L).width === 7 && out(2L).height === 2)
    assert(out(2L).mean_byte === 30.0)
    assert(out(1L).media_len > 0)
  }

  test("wav decoder: real PCM WAVs decode through the partition-wise pipeline") {
    import spark.implicits._
    import javax.sound.sampled._
    // synthesize a real 1-second 440 Hz sine WAV at 8 kHz mono 16-bit
    // and a half-second of silence, plus one corrupt payload
    def wav(seconds: Double, freq: Double, amp: Double): Array[Byte] = {
      val rate = 8000
      val n = (rate * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val s = (math.sin(2 * math.Pi * freq * i / rate) * amp * 32767).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val ds = Seq(
      Multimodal.MediaRow(1L, "audio", wav(1.0, 440.0, 0.5)),
      Multimodal.MediaRow(2L, "audio", wav(0.5, 440.0, 0.0)),
      Multimodal.MediaRow(3L, "audio", Array[Byte](9, 9, 9))).toDS()
      .repartition(2)
    val out = Multimodal.decodeFeaturesWav(ds).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L), "corrupt payload is dropped, not fatal")
    assert(out(1L).sample_rate === 8000 && out(1L).channels === 1)
    assert(out(1L).n_samples === 8000)
    assert(math.abs(out(1L).duration_s - 1.0) < 1e-9)
    // sine RMS = amp/sqrt(2); quantization keeps it within ~1%
    assert(math.abs(out(1L).rms - 0.5 / math.sqrt(2)) < 0.005)
    // 440 Hz over 1 s crosses zero ~880 times
    assert(out(1L).zero_crossings >= 870 && out(1L).zero_crossings <= 890)
    // silence: zero energy, no crossings
    assert(out(2L).rms === 0.0 && out(2L).zero_crossings === 0L)
  }

  test("avi mjpeg: real container parse + frame decode, every k-th frame") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def jpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // a minimal spec-correct AVI: RIFF("AVI " hdrl-LIST movi-LIST),
    // frames as 00dc chunks (one wrapped in a `rec ` sub-LIST, the
    // interleaved form), odd sizes padded to even per RIFF
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    val frames = Seq(jpeg(6, 4, 200), jpeg(6, 4, 80), jpeg(8, 2, 10))
    val movi = list("movi",
      chunk("00dc", frames(0)) ++
        list("rec ", chunk("00dc", frames(1))) ++
        chunk("00dc", frames(2)))
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val aviBody = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(aviBody.length) ++ aviBody
    assert(Multimodal.aviFrames(avi).length === 3)
    val ds = Seq(
      Multimodal.MediaRow(1L, "video", avi),
      Multimodal.MediaRow(2L, "video", Array[Byte](9, 9, 9))).toDS()
      .repartition(2)
    val all = Multimodal.sampleVideoFrames(ds, everyK = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(all.keySet === Set((1L, 0), (1L, 1), (1L, 2)),
      "malformed payload yields no frames, not a failure")
    assert(all((1L, 0))._1 === 6 && all((1L, 0))._2 === 4)
    assert(all((1L, 2))._1 === 8 && all((1L, 2))._2 === 2)
    // JPEG is lossy but a constant-gray frame stays near its gray
    assert(math.abs(all((1L, 0))._3 - 200.0) < 6.0)
    assert(math.abs(all((1L, 1))._3 - 80.0) < 6.0)
    // sampling keeps frames 0 and 2 only
    val sampled = Multimodal.sampleVideoFrames(ds, everyK = 2).collect()
      .map(r => r.getInt(1)).sorted
    assert(sampled.toSeq === Seq(0, 2))
  }

  test("resize emits fixed-size grids via nearest-neighbor index math") {
    import spark.implicits._
    // 16 bytes -> inferred 4x4 grid; resize to 2x2 picks (0,0),(0,2),(2,0),(2,2)
    val grid = Array.tabulate[Byte](16)(_.toByte)
    val ds = Seq(
      Multimodal.MediaRow(1L, "image", grid),
      Multimodal.MediaRow(2L, "image", Array.fill[Byte](100)(7)),
      Multimodal.MediaRow(3L, "image", Array.empty[Byte])).toDS()
    val out = Multimodal.resize(ds, 2, 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("pixels")).toMap
    assert(out.values.forall(_.length === 4)) // every output is 2x2
    assert(out(1L).sameElements(Array[Byte](0, 2, 8, 10)))
    assert(out(2L).forall(_ === 7.toByte)) // constant image stays constant
    assert(out(3L).forall(_ === 0.toByte)) // empty payload -> zero pixels
  }

  test("media type split is deterministic by doc_id parity") {
    val rows = Multimodal.q31MultimodalFeatures(spark, sfDir).collect()
    rows.foreach { r =>
      val expected = if (r.getAs[Long]("doc_id") % 2 == 0) "image" else "audio"
      assert(r.getAs[String]("media_type") === expected)
    }
  }
}
