package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSpec {

  test("synthesize/decode round-trip the GFT1 header") {
    val bytes = Multimodal.synthesize(seed = 42L, width = 320, height = 200, channels = 3)
    val meta = Multimodal.decode(bytes)
    meta shouldBe Multimodal.MediaMeta("gft", 320, 200, 3, valid = true)
    // determinism: same seed → identical payload
    Multimodal.synthesize(42L, 320, 200, 3).toSeq shouldBe bytes.toSeq
  }

  test("decode sniffs real magic numbers and rejects junk") {
    Multimodal.decode(Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)).format shouldBe "jpeg"
    Multimodal.decode(Array(0x89, 'P', 'N', 'G').map(_.toByte)).format shouldBe "png"
    Multimodal.decode("GIF89a".getBytes).format shouldBe "gif"
    // RIFF is a FAMILY: the form type decides wav vs avi vs junk
    Multimodal.decode("RIFFxxxxWAVE".getBytes).format shouldBe "wav"
    Multimodal.decode("RIFFxxxxAVI ".getBytes).format shouldBe "avi"
    Multimodal.decode("RIFFxxxxJUNK".getBytes).format shouldBe "unknown"
    Multimodal.decode("none".getBytes).valid shouldBe false
    Multimodal.decode(null).valid shouldBe false
  }

  test("features: schema, byte stats, null tolerance") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(1L, Multimodal.synthesize(1L, 20, 10, 3)),
      Row(2L, Array.fill[Byte](4)(0)), // constant bytes → entropy 0
      Row(3L, null)
    ).asJava, schema)
    val out = Multimodal.features(df, "media")
    out.columns.toSeq shouldBe Seq("id", "format", "width", "height",
      "channels", "n_bytes", "byte_mean", "byte_entropy")
    val rows = out.orderBy("id").collect()
    rows(0).getString(1) shouldBe "gft"
    rows(0).getInt(2) shouldBe 20
    rows(0).getLong(5) shouldBe (16 + 64 + 1) // header + body(64 + 1%64)
    rows(1).getDouble(7) shouldBe 0.0 // constant payload → zero entropy
    rows(1).getDouble(6) shouldBe 0.0
    rows(2).getString(1) shouldBe "unknown"
    rows(2).getLong(5) shouldBe 0L
  }

  test("decode: real ImageIO decode of a generated PNG returns true dims/bands") {
    val bytes = Multimodal.synthesizePng(seed = 5L, width = 20, height = 10)
    val meta = Multimodal.decode(bytes)
    meta shouldBe Multimodal.MediaMeta("png", 20, 10, 3, valid = true)
    // truncated payload: magic matches but the codec fails → valid=false
    Multimodal.decode(bytes.take(12)).valid shouldBe false
  }

  test("pixelFeatures: exact per-channel sums through a PNG codec round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(9L, Multimodal.synthesizePng(9L, 18, 17)),
      Row(2L, "junk-not-an-image".getBytes), // undecodable → zeroed row
      Row(3L, null)
    ).asJava, schema)
    val out = Multimodal.pixelFeatures(df, "media")
    out.columns.toSeq shouldBe Seq("id", "format", "width", "height",
      "channels", "sum_c0", "sum_c1", "sum_c2")
    val rows = out.orderBy("id").collect()
    // id=9: left_c = 9(c+1) % 256, right_c = (9(c+1)+97) % 256; 17 rows × 9 left cols
    def expected(c: Int): Long =
      17L * 9L * ((9L * (c + 1)) % 256 + (9L * (c + 1) + 97) % 256)
    val r9 = rows.find(_.getLong(0) == 9L).get
    r9.getString(1) shouldBe "png"
    (r9.getInt(2), r9.getInt(3), r9.getInt(4)) shouldBe ((18, 17, 3))
    (r9.getLong(5), r9.getLong(6), r9.getLong(7)) shouldBe
      ((expected(0), expected(1), expected(2)))
    val r2 = rows.find(_.getLong(0) == 2L).get
    r2.getInt(4) shouldBe 0 // channels=0 marks decode failure
    (r2.getLong(5), r2.getLong(6), r2.getLong(7)) shouldBe ((0L, 0L, 0L))
    rows.find(_.getLong(0) == 3L).get.getString(1) shouldBe "unknown"
  }

  test("decode: real javax.sound.sampled decode of a generated WAV") {
    val bytes = Multimodal.synthesizeWav(seed = 5L, channels = 2,
      frames = 100, sampleRate = 16000)
    val meta = Multimodal.decode(bytes)
    // for audio, width carries the frame count and height the sample rate
    meta shouldBe Multimodal.MediaMeta("wav", 100, 16000, 2, valid = true)
    // truncated payload: RIFF magic matches but the codec fails → valid=false
    Multimodal.decode(bytes.take(10)).valid shouldBe false
    // determinism: same seed → identical payload
    Multimodal.synthesizeWav(5L, 2, 100, 16000).toSeq shouldBe bytes.toSeq
  }

  test("audioFeatures: exact per-channel sums through a WAV codec round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(9L, Multimodal.synthesizeWav(9L, 2, 60, 8000)),
      Row(4L, Multimodal.synthesizeWav(4L, 1, 40, 12000)), // mono → sum_c1=0
      Row(2L, "RIFFxxxxWAVEnot-audio".getBytes), // undecodable → zeroed row
      Row(3L, null)
    ).asJava, schema)
    val out = Multimodal.audioFeatures(df, "media")
    out.columns.toSeq shouldBe Seq("id", "format", "sample_rate", "channels",
      "n_frames", "sum_c0", "sum_c1")
    val rows = out.orderBy("id").collect()
    def expected(seed: Long, c: Int, frames: Int): Long =
      (frames / 2).toLong *
        ((seed * (c + 1)) % 3000 + (seed * (c + 1) + 977) % 3000)
    val r9 = rows.find(_.getLong(0) == 9L).get
    (r9.getString(1), r9.getInt(2), r9.getInt(3), r9.getLong(4)) shouldBe
      (("wav", 8000, 2, 60L))
    (r9.getLong(5), r9.getLong(6)) shouldBe
      ((expected(9L, 0, 60), expected(9L, 1, 60)))
    val r4 = rows.find(_.getLong(0) == 4L).get
    (r4.getInt(3), r4.getLong(5), r4.getLong(6)) shouldBe
      ((1, expected(4L, 0, 40), 0L))
    val r2 = rows.find(_.getLong(0) == 2L).get
    r2.getInt(3) shouldBe 0 // channels=0 marks decode failure
    (r2.getString(1), r2.getLong(5)) shouldBe (("wav", 0L))
    rows.find(_.getLong(0) == 3L).get.getString(1) shouldBe "unknown"
  }

  test("resize: header rewritten to target dims, byte budget scales, deterministic") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(1L, Multimodal.synthesize(1L, 100, 100, 3)),
      Row(2L, "none".getBytes), // unknown format → passthrough
      Row(3L, null)
    ).asJava, schema)
    val out = Multimodal.resize(df, "media", 50, 50).orderBy("id").collect()
    val meta1 = Multimodal.decode(out(0).getAs[Array[Byte]](1))
    meta1.width shouldBe 50
    meta1.height shouldBe 50
    meta1.channels shouldBe 3
    // quarter the pixels → ~quarter the body bytes
    val origBody = Multimodal.synthesize(1L, 100, 100, 3).length - 16
    (out(0).getAs[Array[Byte]](1).length - 16) shouldBe
      math.max(1, math.round(origBody * 0.25).toInt)
    out(1).getAs[Array[Byte]](1) shouldBe "none".getBytes
    out(2).isNullAt(1) shouldBe true
    // deterministic
    Multimodal.resize(df, "media", 50, 50).orderBy("id").collect()(0)
      .getAs[Array[Byte]](1).toSeq shouldBe out(0).getAs[Array[Byte]](1).toSeq
  }

  test("frameSample: explodes every step-th chunk with indices; nulls dropped") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(1L, Multimodal.synthesize(7L, 64, 64, 3)),
      Row(2L, null)
    ).asJava, schema)
    val out = Multimodal.frameSample(df, "media", frames = 8, step = 2)
    out.columns.toSeq shouldBe Seq("id", "frame_index", "frame")
    val rows = out.orderBy("id", "frame_index").collect()
    rows.map(_.getLong(0)).toSet shouldBe Set(1L) // null payload → no rows
    rows.map(_.getInt(1)).toSeq shouldBe Seq(0, 2, 4, 6)
    val body = Multimodal.synthesize(7L, 64, 64, 3).length - 16
    rows.foreach(r => r.getAs[Array[Byte]](2).length shouldBe body / 8)
  }

  test("aviDemux: real RIFF walk recovers dimensions and every DIB frame") {
    val avi = Multimodal.synthesizeAvi(11L, width = 16, height = 8, nFrames = 4)
    Multimodal.sniffFormat(avi) shouldBe "avi"
    val s = Multimodal.aviDemux(avi).get
    (s.width, s.height, s.bitCount, s.compression) shouldBe ((16, 8, 24, 0))
    s.frames should have size 4
    s.frames.foreach(_.length shouldBe 16 * 8 * 3)
    val meta = Multimodal.decode(avi)
    (meta.format, meta.width, meta.height, meta.channels, meta.valid) shouldBe
      (("avi", 16, 8, 3, true))
    // truncation fails cleanly, never a partial parse
    Multimodal.aviDemux(avi.take(avi.length - 7)) shouldBe None
    // a WAV is RIFF too but must not sniff as avi
    val wav = Multimodal.synthesizeWav(3L, channels = 1, frames = 10, sampleRate = 8000)
    Multimodal.sniffFormat(wav) shouldBe "wav"
    Multimodal.aviDemux(wav) shouldBe None
  }

  test("decodeDibFrame: closed-form per-channel sums off the BGR raster") {
    val (seed, w, h, n) = (5L, 20, 10, 3)
    val s = Multimodal.aviDemux(Multimodal.synthesizeAvi(seed, w, h, n)).get
    for (i <- 0 until n) {
      val (r, g, b) = Multimodal.decodeDibFrame(s, s.frames(i)).get
      def expect(c: Int): Long = {
        val l = (seed * (c + 1) + i) % 256
        h.toLong * (w / 2) * (l + (l + 97) % 256)
      }
      (r, g, b) shouldBe ((expect(0), expect(1), expect(2)))
    }
  }

  test("frameSample on AVI uses the container's own frames, not a byte split") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("media", BinaryType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(
      Row(1L, Multimodal.synthesizeAvi(9L, 16, 8, 5))).asJava, schema)
    val rows = Multimodal.frameSample(df, "media", frames = 8, step = 1)
      .orderBy("frame_index").collect()
    rows.map(_.getInt(1)).toSeq shouldBe (0 until 5)
    rows.foreach(_.getAs[Array[Byte]](2).length shouldBe 16 * 8 * 3)
  }

  test("MJPG AVI: demux + JDK JPEG codec parity with decoding the bare JPEG") {
    // JPEG sums have no closed form (lossy), but the CONTAINER must be
    // transparent: summing a frame through the AVI path must equal
    // summing the same JPEG bytes directly through ImageIO.
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 16)
      img.setRGB(x, y, (x * 16) << 16 | (y * 31) << 8 | 77)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val jpeg = baos.toByteArray
    val avi = Multimodal.synthesizeAviMjpeg(16, 8, Seq(jpeg, jpeg))
    val s = Multimodal.aviDemux(avi).get
    s.frames should have size 2
    val direct = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    var (er, eg, eb) = (0L, 0L, 0L)
    for (y <- 0 until 8; x <- 0 until 16) {
      er += direct.getRaster.getSample(x, y, 0)
      eg += direct.getRaster.getSample(x, y, 1)
      eb += direct.getRaster.getSample(x, y, 2)
    }
    Multimodal.decodeDibFrame(s, s.frames.head).get shouldBe ((er, eg, eb))
    Multimodal.decodeDibFrame(s, s.frames(1)).get shouldBe ((er, eg, eb))
  }
}
