package graft.operators

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class MultimodalSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val media = Multimodal.asMediaTable(docs)

  test("media table: opaque binary content + typed metadata struct") {
    media.schema("content").dataType.simpleString shouldBe "binary"
    media.schema("meta").dataType.simpleString should include("media_type")
    media.select("meta.media_type").distinct().as[String].collect().sorted shouldBe
      Array("audio", "image", "video")
  }

  test("extractFeatures: batch shape honored (batch_ordinal counts groups of batchSize)") {
    val out = Multimodal.extractFeatures(media.repartition(2), dim = 8, batchSize = 50)
    // 500 docs over 2 partitions -> ordinals 0..4 per partition of 250
    out.agg(max("batch_ordinal")).as[Int].head() shouldBe 4
    out.count() shouldBe docs.count()
    out.select(functions.size(col("feature"))).distinct().as[Int].collect() shouldBe Array(8)
  }

  test("extractFeatures deterministic across partitionings") {
    val a = Multimodal.extractFeatures(media, dim = 8)
      .select("doc_id", "n_bytes", "byte_mean", "feature")
      .orderBy("doc_id").collect()
    val b = Multimodal.extractFeatures(media.repartition(7), dim = 8)
      .select("doc_id", "n_bytes", "byte_mean", "feature")
      .orderBy("doc_id").collect()
    a.map(_.toString) shouldBe b.map(_.toString)
  }

  test("stub feature values are unit-scaled and nonconstant") {
    val feats = Multimodal.extractFeatures(media.limit(20), dim = 16)
      .select("feature").as[Array[Float]].collect()
    all(feats.flatten.toSeq) should (be >= 0.0f and be <= 1.0f)
    feats.map(_.toSeq).distinct.length should be > 1
  }

  test("resizeImages touches only image rows") {
    val out = Multimodal.resizeImages(media, 224, 224)
    out.filter(col("media_type") === "image")
      .select("width", "height").distinct().collect().map(r => (r.getInt(0), r.getInt(1))) shouldBe
      Array((224, 224))
    val untouched = out.filter(col("media_type") =!= "image")
      .join(media.select(col("doc_id"), col("meta.width").as("w0")), "doc_id")
      .filter(col("width") =!= col("w0"))
    untouched.count() shouldBe 0
  }

  test("sampleFrames strides frame indices for video rows only") {
    val out = Multimodal.sampleFrames(media, 30)
    out.select("doc_id").distinct().count() shouldBe
      media.filter(col("meta.media_type") === "video").count()
    out.filter(pmod(col("frame_idx"), lit(30)) =!= 0).count() shouldBe 0
    out.filter(col("frame_idx") >= col("n_frames")).count() shouldBe 0
  }

  test("sampleFrameDigest joins exactly the strided indices, in order") {
    val dig = Multimodal.sampleFrameDigest(media, 30)
      .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
    val exploded = Multimodal.sampleFrames(media, 30)
      .orderBy("doc_id", "frame_idx")
      .as[(Long, Int, Int)].collect().groupBy(_._1)
    dig.keySet shouldBe exploded.keySet
    for ((id, (_, nf, csv)) <- dig) {
      csv shouldBe exploded(id).map(_._3).mkString(",")
      nf shouldBe exploded(id).head._2
    }
  }

  test("image files round-trip the binaryFile source byte-identical") {
    val dir = graft.util.Scratch.dir("mm-binfiles").toString
    val imgTable = Multimodal.asImageTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60))
    val n = Multimodal.writeImageFiles(imgTable, dir)
    n shouldBe imgTable.filter(col("meta.media_type") === "image").count()
    val back = Multimodal.readImageFiles(spark, dir)
      .as[(Long, Array[Byte])].collect().map(r => r._1 -> r._2.toSeq).toMap
    val orig = imgTable.filter(col("meta.media_type") === "image")
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])].collect().map(r => r._1 -> r._2.toSeq).toMap
    back shouldBe orig
  }

  test("writeImageFiles on an image-free input returns 0 and leaves an " +
      "empty (but present) directory") {
    val dir = graft.util.Scratch.dir("mm-binfiles-empty").toString
    val imgTable = Multimodal.asImageTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60))
    val none = imgTable.filter(col("meta.media_type") === "nothing-matches")
    Multimodal.writeImageFiles(none, dir) shouldBe 0L
    new java.io.File(dir).isDirectory shouldBe true
    new java.io.File(dir).list().length shouldBe 0
  }

  // ── real image codec (javax.imageio) ──────────────────────────────

  test("ImageCodec: synthesize -> decode round-trips the closed-form pixels exactly") {
    val (w, h) = (23, 17)
    val png = Multimodal.ImageCodec.synthesizePng(42L, w, h)
    Multimodal.ImageCodec.isPng(png) shouldBe true
    val (dw, dh, pix) = Multimodal.ImageCodec.decodeLuma(png)
    (dw, dh) shouldBe ((w, h))
    for (y <- 0 until h; x <- 0 until w)
      pix(y * w + x) shouldBe Multimodal.ImageCodec.synthPixel(42L, x, y)
  }

  test("ImageCodec: resizeNearest matches the floor-division reference") {
    val (w, h) = (10, 6)
    val pix = Array.tabulate(h * w)(i => (i * 37) % 256)
    val out = Multimodal.ImageCodec.resizeNearest(w, h, pix, 4, 3)
    for (y <- 0 until 3; x <- 0 until 4)
      out(y * 4 + x) shouldBe pix((y * h / 3) * w + (x * w / 4))
    // upscale works too (source pixels repeat)
    val up = Multimodal.ImageCodec.resizeNearest(w, h, pix, 20, 6)
    up(0) shouldBe pix(0)
    up(19) shouldBe pix((19 * w / 20))
  }

  test("ImageCodec: multi-band (RGB) decode uses integer Rec.601 luma") {
    val img = new java.awt.image.BufferedImage(
      3, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00); img.setRGB(2, 0, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (_, _, pix) = Multimodal.ImageCodec.decodeLuma(bos.toByteArray)
    pix shouldBe Array((299 * 255 + 500) / 1000, (587 * 255 + 500) / 1000,
      (114 * 255 + 500) / 1000)
  }

  private lazy val imageMedia = Multimodal.asImageTable(docs)

  test("asImageTable: image rows carry real PNGs, audio/video keep opaque bytes") {
    val rows = imageMedia.select(col("doc_id"), col("content"),
        col("meta.media_type"), col("meta.width"), col("meta.height"))
      .as[(Long, Array[Byte], String, Int, Int)].collect()
    rows.foreach { case (id, content, tpe, w, h) =>
      if (tpe == "image") {
        Multimodal.ImageCodec.isPng(content) shouldBe true
        val (dw, dh, _) = Multimodal.ImageCodec.decodeLuma(content)
        (dw, dh) shouldBe ((w, h))
      } else Multimodal.ImageCodec.isPng(content) shouldBe false
    }
    rows.count(_._3 == "image") should be > 0
  }

  test("resizeImages: real path re-encodes a decodable resized PNG with real dims") {
    val out = Multimodal.resizeImages(imageMedia, 16, 12)
    val img = out.filter(col("media_type") === "image")
      .select(col("doc_id"), col("content"), col("n_bytes"))
      .as[(Long, Array[Byte], Long)].collect()
    img.foreach { case (id, content, nBytes) =>
      nBytes shouldBe content.length.toLong
      val (dw, dh, pix) = Multimodal.ImageCodec.decodeLuma(content)
      (dw, dh) shouldBe ((16, 12))
      // resized pixels follow the closed form through the round-trip
      val (sw, sh) = ((id % 24 + 8).toInt, (id % 18 + 8).toInt)
      for (y <- 0 until 12; x <- 0 until 16)
        pix(y * 16 + x) shouldBe Multimodal.ImageCodec.synthPixel(
          id, x * sw / 16, y * sh / 12)
    }
  }

  test("imageStats matches direct formula computation; nulls on non-image rows") {
    val stats = Multimodal.imageStats(imageMedia).collect()
    stats.foreach { r =>
      val id = r.getLong(0)
      if (r.getString(1) == "image") {
        val (w, h) = ((id % 24 + 8).toInt, (id % 18 + 8).toInt)
        val pix = for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.ImageCodec.synthPixel(id, x, y)
        r.getInt(2) shouldBe w
        r.getInt(3) shouldBe h
        r.getLong(4) shouldBe w.toLong * h
        r.getDouble(5) shouldBe (BigDecimal(pix.map(_.toLong).sum.toDouble / pix.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        r.getInt(6) shouldBe pix.min
        r.getInt(7) shouldBe pix.max
      } else {
        r.isNullAt(4) shouldBe true
        r.isNullAt(5) shouldBe true
      }
    }
  }

  test("extractFeatures: real pixel features on image rows (mean plane checks out)") {
    val feats = Multimodal.extractFeatures(imageMedia, dim = 16)
      .filter(col("media_type") === "image")
      .select(col("doc_id"), col("feature")).as[(Long, Array[Float])].collect()
    feats.foreach { case (id, f) =>
      val (w, h) = ((id % 24 + 8).toInt, (id % 18 + 8).toInt)
      val pix = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.ImageCodec.synthPixel(id, x, y)
      f(0) shouldBe (pix.map(_.toLong).sum.toDouble / pix.length / 255.0).toFloat
      f(2) shouldBe (pix.min / 255.0).toFloat
      f(3) shouldBe (pix.max / 255.0).toFloat
      // histogram bins sum to ~1
      f.slice(8, 16).map(_.toDouble).sum shouldBe 1.0 +- 1e-6
    }
  }

  // ── real audio codec (javax.sound.sampled) ────────────────────────

  test("AudioCodec: synthesize -> decode round-trips the closed-form samples exactly") {
    val n = 777
    val wav = Multimodal.AudioCodec.synthesizeWav(42L, n, 16000)
    Multimodal.AudioCodec.isWav(wav) shouldBe true
    val (rate, s) = Multimodal.AudioCodec.decodePcm(wav)
    rate shouldBe 16000
    s.length shouldBe n
    for (i <- 0 until n) s(i) shouldBe Multimodal.AudioCodec.synthSample(42L, i)
  }

  test("AudioCodec: negative samples survive the 16-bit round-trip") {
    val samples = Array(-32768, -1, 0, 1, 32767, -2000, 2000)
    val wav = Multimodal.AudioCodec.encodeWav(8000, samples)
    val (rate, s) = Multimodal.AudioCodec.decodePcm(wav)
    rate shouldBe 8000
    s shouldBe samples
  }

  test("AudioCodec: resampleNearest matches the floor-division reference") {
    val src = Array.tabulate(100)(i => (i * 37) % 4001 - 2000)
    val out = Multimodal.AudioCodec.resampleNearest(src, 40)
    for (j <- 0 until 40) out(j) shouldBe src(j * 100 / 40)
    // upsample repeats source samples
    val up = Multimodal.AudioCodec.resampleNearest(src, 250)
    for (j <- 0 until 250) up(j) shouldBe src((j.toLong * 100 / 250).toInt)
  }

  // ── real video container codec (Y4M) ──────────────────────────────

  test("VideoCodec: synthesize -> decode round-trips the closed-form frames exactly") {
    val (w, h, nf) = (7, 5, 4)
    val y4m = Multimodal.VideoCodec.synthesizeY4m(42L, w, h, nf)
    Multimodal.VideoCodec.isY4m(y4m) shouldBe true
    val (dw, dh, frames) = Multimodal.VideoCodec.decodeFrames(y4m)
    (dw, dh) shouldBe ((w, h))
    frames.length shouldBe nf
    for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
      frames(f)(y * w + x) shouldBe Multimodal.VideoCodec.synthPixel(42L, f, x, y)
  }

  test("VideoCodec: C420 streams parse (luma read, chroma skipped)") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val (w, h) = (4, 2)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"YUV4MPEG2 W$w H$h F30:1 Ip A1:1 C420jpeg\n".getBytes(ascii))
    for (f <- 0 until 3) {
      bos.write("FRAME\n".getBytes(ascii))
      for (i <- 0 until w * h) bos.write(10 * f + i)       // luma
      for (_ <- 0 until 2 * ((w / 2) * (h / 2))) bos.write(128) // chroma
    }
    val (dw, dh, frames) = Multimodal.VideoCodec.decodeFrames(bos.toByteArray)
    (dw, dh) shouldBe ((w, h))
    frames.length shouldBe 3
    for (f <- 0 until 3; i <- 0 until w * h) frames(f)(i) shouldBe 10 * f + i
  }

  private lazy val avMedia = Multimodal.asAvTable(docs)

  test("asAvTable: every row's payload decodes in its type's real container") {
    val rows = avMedia.select(col("doc_id"), col("content"),
        col("meta.media_type"), col("meta.n_frames"))
      .as[(Long, Array[Byte], String, Int)].collect()
    rows.length shouldBe docs.count()
    rows.foreach {
      case (id, content, "image", _) =>
        val (dw, dh, _) = Multimodal.ImageCodec.decodeLuma(content)
        (dw, dh) shouldBe (((id % 24 + 8).toInt, (id % 18 + 8).toInt))
      case (id, content, "audio", nf) =>
        val (rate, s) = Multimodal.AudioCodec.decodePcm(content)
        rate shouldBe 16000
        s.length shouldBe nf
      case (id, content, _, nf) =>
        val (dw, dh, frames) = Multimodal.VideoCodec.decodeFrames(content)
        (dw, dh) shouldBe (((id % 12 + 4).toInt, (id % 8 + 4).toInt))
        frames.length shouldBe nf
    }
  }

  test("audioStats matches direct formula computation; nulls on non-audio rows") {
    Multimodal.audioStats(avMedia).collect().foreach { r =>
      val id = r.getLong(0)
      if (r.getString(1) == "audio") {
        val n = (id % 1200 + 64).toInt
        val s = Array.tabulate(n)(i => Multimodal.AudioCodec.synthSample(id, i))
        r.getInt(2) shouldBe 16000
        r.getLong(3) shouldBe n.toLong
        r.getDouble(5) shouldBe (BigDecimal(s.map(v => math.abs(v).toLong).sum.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        r.getInt(6) shouldBe s.map(math.abs).max
        r.getLong(7) shouldBe (1 until n).count(i => (s(i - 1) < 0) != (s(i) < 0)).toLong
      } else {
        r.isNullAt(3) shouldBe true
        r.isNullAt(5) shouldBe true
      }
    }
  }

  test("resampleAudio: real round-trip halves the sample count at 8 kHz") {
    val out = Multimodal.resampleAudio(avMedia, 8000)
    val rows = out.filter(col("meta.media_type") === "audio")
      .select(col("doc_id"), col("content")).as[(Long, Array[Byte])].collect()
    rows.foreach { case (id, content) =>
      val n = (id % 1200 + 64).toInt
      val m = n / 2
      val (rate, s) = Multimodal.AudioCodec.decodePcm(content)
      rate shouldBe 8000
      s.length shouldBe m
      for (j <- 0 until m)
        s(j) shouldBe Multimodal.AudioCodec.synthSample(id, (j.toLong * n / m).toInt)
    }
    // non-audio rows pass through untouched
    out.filter(col("meta.media_type") =!= "audio")
      .join(avMedia.select(col("doc_id"), md5(col("content")).as("md0")), "doc_id")
      .filter(md5(col("content")) =!= col("md0")).count() shouldBe 0
  }

  test("videoFrameStats: strided frames with exact luma stats") {
    val out = Multimodal.videoFrameStats(avMedia, 5).collect()
    out.length should be > 0
    out.foreach { r =>
      val (id, f) = (r.getLong(0), r.getInt(1))
      f % 5 shouldBe 0
      val (w, h) = ((id % 12 + 4).toInt, (id % 8 + 4).toInt)
      r.getInt(2) shouldBe w
      r.getInt(3) shouldBe h
      r.getInt(4) shouldBe (id % 24 + 2).toInt
      val pix = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.VideoCodec.synthPixel(id, f, x, y)
      r.getDouble(5) shouldBe (BigDecimal(pix.map(_.toLong).sum.toDouble / pix.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      r.getInt(6) shouldBe pix.min
      r.getInt(7) shouldBe pix.max
    }
    // every sampled (doc, frame) appears exactly once
    out.map(r => (r.getLong(0), r.getInt(1))).distinct.length shouldBe out.length
  }

  test("imageAHash: known half-dark half-bright 8x8 image hashes to the " +
      "expected bit pattern through the real codec") {
    import spark.implicits._
    // left half 0, right half 200: mean 100, strict > sets bits x>=4
    val pix = Array.tabulate(64)(i => if (i % 8 >= 4) 200 else 0)
    val png = Multimodal.ImageCodec.encodeGrayPng(8, 8, pix)
    val media = Seq(Multimodal.MediaRow(1L, png,
      Multimodal.MediaMeta("image", 8, 8, 0, 1))).toDF()
    val h = Multimodal.imageAHash(media).head().getLong(1)
    h shouldBe 0xF0F0F0F0F0F0F0F0L // per row: bits 4..7 set
  }

  test("imageNearDupPairs == brute-force Hamming scan on the planted-dup " +
      "corpus, and in-group near-dups exist (non-vacuous)") {
    val dup = Multimodal.asImageDupTable(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val banded = Multimodal.imageNearDupPairs(dup, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hashes = Multimodal.imageAHash(dup)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      d = java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2)
      if d <= 3
    } yield (hashes(i)._1, hashes(j)._1, d)).toSet
    banded shouldBe brute
    banded should not be empty
    // at least one pair is an in-group planted near-dup
    banded.exists { case (a, b, _) => a - (a % 9) == b - (b % 9) } shouldBe true
  }

  test("binaryStats matches direct computation") {
    val out = Multimodal.binaryStats(media)
    val direct = docs.select(col("doc_id"),
      functions.length(col("text")).cast("long").as("expect_bytes"), // ASCII corpus
      md5(encode(col("text"), "UTF-8")).as("expect_md5"))
    out.join(direct, "doc_id")
      .filter(col("n_bytes") =!= col("expect_bytes") ||
        col("content_md5") =!= col("expect_md5")).count() shouldBe 0
  }
}
