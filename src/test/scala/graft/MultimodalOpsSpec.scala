package graft

import graft.ops.MultimodalOps
import graft.ops.MultimodalOps.{MediaMeta, MediaRecord}

class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("mediaInventory header-sniffs real dimensions without raster decode") {
    val docs = Seq(0L, 1L, 63L, 1000L).toDF("doc_id")
    val out = MultimodalOps.mediaInventory(
      MultimodalOps.syntheticPngTable(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(0L, 1L, 63L, 1000L)) {
      assert(out(id).getAs[Int]("width") === 1 + (id % 64).toInt)
      assert(out(id).getAs[Int]("height") === 1 + ((id * 7) % 48).toInt)
      assert(out(id).getAs[String]("format") === "png")
    }
    // non-media payloads degrade to the unknown sentinel, not a failure
    val bad = MultimodalOps.mediaInventory(
      Seq(MediaRecord(9L, "not an image".getBytes)).toDS()).collect().head
    assert((bad.getAs[Int]("width"), bad.getAs[Int]("height"),
      bad.getAs[String]("format")) === ((-1, -1, "unknown")))
  }

  test("featureExtract computes real per-channel histograms from decoded pixels") {
    // one real 2x2 PNG with known pixel values; histogram must place
    // each channel byte in bin value >> 5 (8 bins/channel)
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xFF0000)
    img.setRGB(0, 1, 0x00FF00); img.setRGB(1, 1, 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(MediaRecord(1L, bos.toByteArray),
      MediaRecord(2L, bos.toByteArray),
      MediaRecord(3L, "not an image".getBytes)).toDS()
    val f = MultimodalOps.featureExtract(media).collect()
      .map(m => m.doc_id -> m.features.toSeq).toMap
    assert(f(1L).size === 24)
    // R channel: three pixels at 0 (bin 0), one at 255 (bin 7)
    assert(f(1L).slice(0, 8) === Seq(3f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    assert(f(1L).slice(8, 16) === Seq(3f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    assert(f(1L).slice(16, 24) === Seq(3f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    assert(f(1L) === f(2L)) // deterministic
    // undecodable payload degrades to the zero vector, not a failure
    assert(f(3L) === Seq.fill(24)(0f))
  }

  test("featureExtract counts sum to pixel area on the synthetic fixture") {
    val docs = Seq(5L, 42L, 77L).toDF("doc_id")
    val f = MultimodalOps.featureExtract(MultimodalOps.syntheticPngTable(docs))
      .collect()
      .map(m => m.doc_id -> m.features).toMap
    for (id <- Seq(5L, 42L, 77L)) {
      val area = (1 + (id % 64).toInt) * (1 + ((id * 7) % 48).toInt)
      // each channel's bins partition the pixels exactly
      assert(f(id).slice(0, 8).sum === area.toFloat)
      assert(f(id).slice(8, 16).sum === area.toFloat)
      assert(f(id).slice(16, 24).sum === area.toFloat)
    }
  }

  test("readImage refuses decompression bombs before raster allocation") {
    // a real (tiny-payload) PNG whose declared dimensions exceed the cap
    val img = new java.awt.image.BufferedImage(
      200, 100, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    assert(MultimodalOps.readImage(bytes, maxPixels = 200L * 100).isDefined)
    assert(MultimodalOps.readImage(bytes, maxPixels = 200L * 100 - 1).isEmpty)
  }

  test("resizeImages really rescales the raster to a decodable payload") {
    val docs = Seq(10L, 40L).toDF("doc_id") // dims 11x23 and 41x41
    val resized = MultimodalOps.resizeImages(
      MultimodalOps.syntheticPngTable(docs), maxSide = 20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // 11x23 → scale 20/23; 41x41 → scale 20/41
    assert(resized(10L).getAs[Int]("out_width") === (11 * (20.0 / 23)).toInt)
    assert(resized(10L).getAs[Int]("out_height") === 20)
    assert(resized(40L).getAs[Int]("out_width") === 20)
    // the payload is a REAL png at exactly those dims
    val again = MultimodalOps.readImage(resized(10L).getAs[Array[Byte]]("media"))
    assert(again.isDefined)
    assert(again.get._1.getWidth === (11 * (20.0 / 23)).toInt)
    assert(again.get._1.getHeight === 20)
    // images already within bounds pass through at original dims
    val same = MultimodalOps.resizeImages(
      MultimodalOps.syntheticPngTable(Seq(10L).toDF("doc_id")), maxSide = 256)
      .collect().head
    assert((same.getAs[Int]("out_width"), same.getAs[Int]("out_height")) === ((11, 23)))
    // undecodable payloads degrade, not fail
    val bad = MultimodalOps.resizeImages(
      Seq(MediaRecord(9L, "junk".getBytes)).toDS(), maxSide = 20).collect().head
    assert((bad.getAs[Int]("out_width"), bad.getAs[Int]("out_height")) === ((-1, -1)))
  }

  test("frameSampleImages decodes real frames from a multi-frame GIF") {
    // doc 3 → 5 frames (2 + 3%5), dims 4x22; doc 10 → 2 frames, 11x23
    val docs = Seq(3L, 10L).toDF("doc_id")
    val out = MultimodalOps.frameSampleImages(
      MultimodalOps.syntheticGifTable(docs)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    // 5 frames sampled down to 4: indices k*5/4 = 0,1,2,3
    assert(out((3L, 0)) === ((0, 4, 22, 5)))
    assert(out((3L, 3)) === ((3, 4, 22, 5)))
    // 2 frames → both kept at their own indices
    assert(out((10L, 0)) === ((0, 11, 23, 2)))
    assert(out((10L, 1)) === ((1, 11, 23, 2)))
    assert(out.size === 6)
    // corrupt payloads produce no rows, not a failure
    val bad = MultimodalOps.frameSampleImages(
      Seq(MediaRecord(9L, "junk".getBytes)).toDS()).collect()
    assert(bad.isEmpty)
  }

  test("decode drives a pluggable decoder through the batched contract") {
    // a custom decoder (what a native-codec impl would be) sees whole
    // batches and its output flows through unchanged
    val byteCounting = new MultimodalOps.MediaDecoder {
      override def decodeBatch(b: Seq[MediaRecord]): Seq[MediaMeta] =
        b.map(r => MediaMeta(r.doc_id, r.media.length, b.size, -1, "raw"))
    }
    val media = Seq.tabulate(130)(i => MediaRecord(i.toLong, Array.fill(i + 1)(0x41.toByte)))
      .toDS().repartition(1)
    val out = MultimodalOps.decode(media, byteCounting).collect()
    assert(out.length === 130)
    assert(out.map(_.n_bytes).sorted.toSeq === (1 to 130))
    // batch shape: 130 rows in one partition at 64 per batch → 64+64+2
    assert(out.map(_.width).sorted.toSeq === Seq(2, 2) ++ Seq.fill(128)(64))
  }

  private def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("ImageIoDecoder recovers real dimensions and format (png + jpeg)") {
    val out = MultimodalOps.ImageIoDecoder.decodeBatch(Seq(
      MediaRecord(1L, encoded("png", 17, 9)),
      MediaRecord(2L, encoded("jpg", 33, 21)),
      MediaRecord(3L, Array[Byte](1, 2, 3, 4)))) // not an image
      .map(m => m.doc_id -> m).toMap
    assert((out(1L).width, out(1L).height, out(1L).format) === (17, 9, "png"))
    assert((out(2L).width, out(2L).height, out(2L).format) === (33, 21, "jpeg"))
    assert((out(3L).width, out(3L).height, out(3L).format) === (-1, -1, "unknown"))
  }

  test("imageStats: generated PNGs decode to the predicted dimensions") {
    val docs = Seq(0L, 1L, 63L, 64L, 1000L).toDF("doc_id")
    val out = MultimodalOps.imageStats(MultimodalOps.syntheticPngTable(docs)).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 1L, 63L, 64L, 1000L)) {
      assert(out(id).getAs[Int]("width") === 1 + (id % 64).toInt)
      assert(out(id).getAs[Int]("height") === 1 + ((id * 7) % 48).toInt)
      assert(out(id).getAs[String]("format") === "png")
    }
  }

  test("audioStats: generated WAVs decode to the predicted format and sample stats") {
    val ids = Seq(0L, 1L, 6L, 399L, 1000L)
    val out = MultimodalOps.audioStats(
      MultimodalOps.syntheticWavTable(ids.toDF("doc_id"))).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- ids) {
      val n = (100 + id % 400).toInt
      val k = (1 + id % 7).toInt
      val samples = (0 until n).map(i => (i * k) % 2003 - 1001)
      val r = out(id)
      assert(r.getAs[Int]("n_samples") === n)
      assert(r.getAs[Int]("sample_rate") === (8000 * (1 + id % 3)).toInt)
      assert(r.getAs[Int]("channels") === 1)
      assert(r.getAs[Int]("bits") === 16)
      assert(r.getAs[Int]("peak") === samples.map(math.abs).max)
      assert(r.getAs[Long]("ssum") === samples.map(_.toLong).sum)
    }
  }

  test("readWavStats degrades on corrupt, oversized, and wrong-shape payloads") {
    // not RIFF at all
    assert(MultimodalOps.readWavStats(Array[Byte](1, 2, 3, 4)) === None)
    // a real payload parses...
    val wav = MultimodalOps.syntheticWavTable(Seq(5L).toDF("doc_id"))
      .collect().head.media
    assert(MultimodalOps.readWavStats(wav).isDefined)
    // ...but the declared-length bomb guard refuses a header declaring
    // more than 2^24 frames (2^26 data bytes of 16-bit mono), before
    // reading a sample
    val bomb = wav.clone()
    java.nio.ByteBuffer.wrap(bomb, 40, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(1 << 26)
    // the header still parses: the guard, not the parser, refuses it
    assert(javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bomb)).getFrameLength === (1L << 25))
    assert(MultimodalOps.readWavStats(bomb) === None)
  }
}
