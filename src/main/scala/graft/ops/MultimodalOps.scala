package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §2.2 Q23): image/audio/video as
  * opaque `binary` columns with typed metadata, processed by a batched
  * per-partition decode/feature-extract stage. Every decode path is a
  * REAL codec (javax.imageio / javax.sound.sampled — pure JVM); the
  * pluggable [[MediaDecoder]] contract is where a native-codec decoder
  * (libjpeg-turbo, ffmpeg bindings) would slot in unchanged.
  *
  * Scale notes: decode runs `mapPartitions` with explicit batching
  * (the JVM analogue of `mapInPandas` batch semantics) — bytes never
  * leave their partition, the decoder is instantiated once per
  * partition (amortizing model/codec init), and output is a narrow
  * typed row, so the expensive binary column is dropped before any
  * shuffle.
  */
object MultimodalOps {

  /** An opaque media payload + its identity. */
  final case class MediaRecord(doc_id: Long, media: Array[Byte])

  /** Extracted metadata/features for one payload. */
  final case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int,
                             height: Int, format: String)

  /** Decoder contract: one instance per partition, batch-at-a-time. */
  trait MediaDecoder extends Serializable {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaMeta]
  }

  /** Pixel budget for a single decode: payloads whose DECLARED header
    * dimensions exceed this are refused before any raster allocation —
    * a decompression bomb (huge declared width×height, tiny payload)
    * would otherwise throw OutOfMemoryError, which is not catchable
    * data degradation: it kills the task/executor.
    */
  val DefaultMaxPixels: Long = 1L << 26 // 64 Mpixel ≈ 256 MB ARGB raster

  /** The largest pixel budget under which [[featureExtract]]'s
    * histogram counts stay EXACT as floats (a single-color image puts
    * its whole area in one bin, and floats lose integer exactness at
    * 2^24).
    */
  val MaxExactHistogramPixels: Long = 1L << 24

  /** The ONE reader scaffold every decode path shares: open `bytes`
    * with the matching imageio reader, run `f`, always dispose/close.
    * Unreadable payloads and decode-time RuntimeExceptions (imageio
    * throws CMMException/IllegalArgument/index errors on malformed
    * input) yield None — corrupt media is data, never a task failure.
    * In-memory streams only: the default ImageIO file cache would
    * spool every payload through an executor-disk temp file.
    */
  private def withImageReader[A](bytes: Array[Byte])(
      f: javax.imageio.ImageReader => Option[A]): Option[A] = {
    javax.imageio.ImageIO.setUseCache(false)
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    if (in == null) None
    else try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (readers == null || !readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(in)
          f(reader)
        } catch {
          case scala.util.control.NonFatal(_) => None
        } finally reader.dispose()
      }
    } finally in.close()
  }

  /** Full javax.imageio decode with the bomb guard: header dims are
    * read FIRST ([[javax.imageio.ImageReader#getWidth]] parses only
    * metadata) and oversized or unreadable payloads yield None.
    */
  def readImage(bytes: Array[Byte], maxPixels: Long = DefaultMaxPixels)
      : Option[(java.awt.image.BufferedImage, String)] =
    withImageReader(bytes) { reader =>
      // dimension sanity BEFORE reader.read allocates the raster
      val w = reader.getWidth(0)
      val h = reader.getHeight(0)
      if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) None
      else Some((reader.read(0), reader.getFormatName.toLowerCase))
    }

  /** REAL image decode via javax.imageio (pure JVM, no native codecs):
    * full pixel decode (`ImageReader.read`), actual width/height from
    * the raster, container format from the matched reader. Unreadable
    * or bomb-sized payloads (see [[DefaultMaxPixels]]) degrade to
    * (-1, -1, "unknown") rather than failing the batch — at 100 TB a
    * corrupt image is data, not an outage.
    */
  object ImageIoDecoder extends MediaDecoder {
    override def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaMeta] =
      batch.map { r =>
        readImage(r.media) match {
          case Some((img, fmt)) =>
            MediaMeta(r.doc_id, r.media.length, img.getWidth, img.getHeight, fmt)
          case None => MediaMeta(r.doc_id, r.media.length, -1, -1, "unknown")
        }
      }
  }

  /** HEADER-ONLY metadata decode — the real operator behind a media
    * INVENTORY pass: match the container by magic bytes, parse ONLY the
    * header for dimensions and format ([[javax.imageio.ImageReader]]'s
    * `getWidth`/`getHeight` read metadata without allocating or
    * decoding a raster). At 100 TB this is the pass that runs over
    * everything FIRST — orders of magnitude cheaper than a full decode
    * — to size, route, and bomb-screen payloads before any raster
    * work is scheduled; [[ImageIoDecoder]] is the full-decode stage
    * that follows on the routed subset. Unreadable payloads degrade to
    * (-1, -1, "unknown"), never a task failure.
    */
  object HeaderSniffDecoder extends MediaDecoder {
    override def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaMeta] =
      batch.map { r =>
        withImageReader(r.media) { reader =>
          Some(MediaMeta(r.doc_id, r.media.length,
            reader.getWidth(0), reader.getHeight(0),
            reader.getFormatName.toLowerCase))
        }.getOrElse(MediaMeta(r.doc_id, r.media.length, -1, -1, "unknown"))
      }
  }

  /** Deterministic PNG fixture generation: one real PNG per document,
    * dimensions derived from doc_id (so a SQL oracle can predict what
    * the decoder must recover), pixels a deterministic gradient.
    * Runs per-partition on executors — the ingest half of a real
    * image-pipeline round trip.
    */
  def syntheticPngTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    OpsUtil.par(documents.select(col("doc_id"))).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory encode
      it.map { id =>
        val w = 1 + (id % 64).toInt
        val h = 1 + ((id * 7) % 48).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((x * 31 + y * 17 + id) % 0xFFFFFF).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id, bos.toByteArray)
      }
    }
  }

  /** Q43: decode stored PNGs (a [[syntheticPngTable]] artifact) with
    * the real codec and emit the recovered dimensions. The oracle
    * recomputes them from doc_id, so a decoder that does not parse PNG
    * cannot pass. Generation is deterministic, so the parquet round
    * trip is content-identical to inline synthesis.
    */
  def imageStats(media: Dataset[MediaRecord]): DataFrame =
    decode(media, ImageIoDecoder)
      .toDF().select("doc_id", "width", "height", "format")

  /** Deterministic WAV fixture generation: one real RIFF/WAVE PCM
    * payload per document (16-bit mono, rate and length derived from
    * doc_id, samples an exact integer waveform) via
    * `javax.sound.sampled.AudioSystem` — the audio analogue of
    * [[syntheticPngTable]], encoded per-partition on executors.
    */
  def syntheticWavTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    OpsUtil.par(documents.select(col("doc_id"))).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (100 + id % 400).toInt
        val k = (1 + id % 7).toInt
        val rate = (8000 * (1 + id % 3)).toInt
        // little-endian 16-bit PCM of s_i = (i·k) mod 2003 - 1001
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (i * k) % 2003 - 1001
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
          true /* signed */, false /* little-endian */)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRecord(id, bos.toByteArray)
      }
    }
  }

  /** REAL audio decode via javax.sound.sampled (pure JVM): parses the
    * RIFF container, recovers the format (rate/channels/bits) and the
    * int16 samples, and emits per-payload stats. Unreadable payloads
    * degrade to None — corrupt audio is data, not an outage. Bomb
    * guard: the DECLARED frame length is checked before buffering.
    */
  /** The installed audio container parsers, resolved ONCE per JVM.
    * `AudioSystem.getAudioInputStream` re-runs the ServiceLoader
    * provider scan on every call — through Spark's executor
    * classloader that is a per-RECORD classpath walk which dominated
    * the q71 decode stage (~4× the actual RIFF parsing). Same public
    * SPI surface, resolved through the same ServiceLoader, hoisted out
    * of the hot path.
    */
  private lazy val audioFileReaders
      : Array[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) buf += it.next()
    buf.toArray
  }

  /** Index of the reader that accepted the LAST payload, tried first
    * for the next one. A homogeneous corpus (the normal case) then
    * parses every record on the first attempt — without this, every
    * record pays one UnsupportedAudioFileException per non-matching
    * provider ahead of the right one, and exception construction
    * fills in the DEEP executor-task stack each time: measured ~4× the
    * whole decode cost at sf0.1. Racy by design (worst case: one extra
    * miss), volatile for visibility.
    */
  @volatile private var preferredAudioReader = 0

  /** [[javax.sound.sampled.AudioSystem.getAudioInputStream]] semantics
    * over the cached provider list: first reader that accepts the
    * container wins, preferring the last successful one.
    */
  private def openAudioStream(bytes: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val n = audioFileReaders.length
    val start = preferredAudioReader
    var tried = 0
    while (tried < n) {
      val i = (start + tried) % n
      try {
        val ais = audioFileReaders(i).getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        preferredAudioReader = i
        return ais
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => tried += 1
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed reader accepts the payload")
  }

  def readWavStats(bytes: Array[Byte], maxSamples: Long = 1L << 24)
      : Option[(Int, Int, Int, Int, Int, Long)] =
    try {
      val ais = openAudioStream(bytes)
      try {
        val fmt = ais.getFormat
        val n = ais.getFrameLength
        if (n <= 0 || n > maxSamples || fmt.getChannels != 1 ||
            fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
        else {
          val pcm = ais.readAllBytes()
          var peak = 0
          var ssum = 0L
          var i = 0
          while (i + 1 < pcm.length) {
            val s = ((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort.toInt
            if (math.abs(s) > peak) peak = math.abs(s)
            ssum += s
            i += 2
          }
          Some((n.toInt, fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, peak, ssum))
        }
      } finally ais.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Q71: decode stored WAVs (a [[syntheticWavTable]] artifact) with
    * the real parser and emit the recovered format and sample stats;
    * the oracle recomputes every field from doc_id. The fixture is
    * stored rather than encoded inline because timing the encoding
    * inside the decode query measured the fixture, not the operator.
    */
  def audioStats(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-record decode (no batch API to amortize): a flat pass keeps
      // at most one decoded payload in flight per task
      it.flatMap { r =>
        readWavStats(r.media).map { case (n, rate, ch, bits, peak, ssum) =>
          (r.doc_id, n, rate, ch, bits, peak, ssum)
        }
      }
    }.toDF("doc_id", "n_samples", "sample_rate", "channels", "bits",
      "peak", "ssum")
  }

  /** Batched per-partition decode/feature-extraction. */
  def decode(media: Dataset[MediaRecord],
             decoder: MediaDecoder = ImageIoDecoder,
             batchSize: Int = 64): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => decoder.decodeBatch(b))
    }
  }

  /** Q23 entry: the media INVENTORY pass — header-only metadata over a
    * stored media table via the batched [[decode]] plumbing with
    * [[HeaderSniffDecoder]]. Emits only the header-recoverable fields
    * (payload byte size is encoder output, not oracle-predictable).
    */
  def mediaInventory(media: Dataset[MediaRecord]): DataFrame =
    decode(media, HeaderSniffDecoder)
      .toDF().select("doc_id", "width", "height", "format")

  /** A fixed-size feature vector for one payload. */
  final case class MediaFeatures(doc_id: Long, features: Array[Float])

  /** Feature extraction (the embed-the-image step): a REAL decoded-
    * raster feature — the per-channel color histogram of the decoded
    * pixels (8 bins per R/G/B channel, vector layout
    * `channel * 8 + (value >> 5)`, dim = 24).
    *
    * Counts are emitted RAW (integers carried as floats — exact below
    * 2^24 pixels/bin): a SQL oracle can predict them for a
    * deterministic fixture (q49), and downstream cosine similarity
    * over them is bit-reproducible cross-engine because every product
    * and partial sum is an exact integer in the double fold (q50 runs
    * these vectors through [[graft.ops.SimilarityOps.bruteForceKnn]]).
    * Unreadable or bomb-sized payloads degrade to the ZERO vector — at
    * 100 TB a corrupt image is data, not an outage. Runs
    * per-partition like [[decode]]; the binary column never leaves its
    * partition and the output row is the narrow `Array[Float]`
    * embedding shape the similarity operators consume directly.
    */
  def featureExtract(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    // 8 bins per channel: a sample's bin is its top three bits
    val (bins, shift) = (8, 5)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val f = new Array[Float](3 * bins)
        // the exactness contract (integer counts carried in floats)
        // holds only while every bin stays below 2^24 — a single-color
        // image puts its whole area in one bin, so the pixel budget IS
        // the bin budget
        readImage(r.media, MaxExactHistogramPixels).foreach { case (img, _) =>
          val w = img.getWidth
          val h = img.getHeight
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = img.getRGB(x, y)
              f(((v >> 16) & 0xFF) >> shift) += 1f
              f(bins + (((v >> 8) & 0xFF) >> shift)) += 1f
              f(2 * bins + ((v & 0xFF) >> shift)) += 1f
              x += 1
            }
            y += 1
          }
        }
        MediaFeatures(r.doc_id, f)
      }
    }
  }

  /** REAL resize: decode → rescale the raster (bilinear, aspect
    * preserved, longest side capped at `maxSide`, never upscaled) →
    * re-encode PNG. Runs per-partition like [[decode]]; the
    * output payload is a real image a downstream stage can decode
    * again (q51 does exactly that round trip). Unreadable or
    * bomb-sized payloads degrade to (-1, -1, empty payload).
    */
  def resizeImages(media: Dataset[MediaRecord], maxSide: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        readImage(r.media) match {
          case Some((img, _)) =>
            val scale = math.min(1.0,
              maxSide.toDouble / math.max(img.getWidth, img.getHeight))
            val ow = math.max(1, (img.getWidth * scale).toInt)
            val oh = math.max(1, (img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, ow, oh, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            (r.doc_id, ow, oh, bos.toByteArray)
          case None => (r.doc_id, -1, -1, Array.empty[Byte])
        }
      }
    }.toDF("doc_id", "out_width", "out_height", "media")
  }

  /** Q51: resize stored PNGs with [[resizeImages]], re-decode the
    * resized payloads with the real codec and emit the recovered
    * dimensions; the oracle predicts them from the dimension formula,
    * so a resize that does not produce a decodable image at the exact
    * target geometry cannot pass.
    */
  def resizeRoundTripFrom(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val resized = resizeImages(media, 32)
      .select(col("doc_id"), col("media")).as[MediaRecord]
    decode(resized, ImageIoDecoder)
      .toDF().select("doc_id", "width", "height", "format")
  }

  /** Deterministic multi-frame GIF fixture: one real animated-GIF
    * payload per document — frame count 2 + doc_id % 5, every frame at
    * the q43 dimensions — written through the actual
    * `ImageWriter.writeToSequence` path. The container half of a real
    * video-style frame-sampling round trip.
    */
  def syntheticGifTable(documents: DataFrame): Dataset[MediaRecord] = {
    val spark = documents.sparkSession
    import spark.implicits._
    OpsUtil.par(documents.select(col("doc_id"))).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      it.map { id =>
        val w = 1 + (id % 64).toInt
        val h = 1 + ((id * 7) % 48).toInt
        val n = 2 + (id % 5).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < n) {
          // INDEXED color model: GIF is palette-based, so an RGB
          // source forces the writer through color quantization per
          // frame — the dominant cost at corpus scale; an indexed
          // raster writes straight through (q55's oracle checks
          // dimensions/frame structure, which are unaffected)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, ((x * 31 + y * 17 + id + f * 7919) % 256).toInt)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.flush(); ios.close()
        MediaRecord(id, bos.toByteArray)
      }
    }
  }

  /** REAL frame sampling over a multi-frame container: open the
    * payload with the actual imageio reader, count the frames, decode
    * `min(4, n)` evenly-spaced ones (frame k·n/s for sample
    * k — the oracle-predictable spacing rule), and emit each sampled
    * frame's recovered dimensions. Unreadable payloads emit nothing
    * (corrupt media is data, not an outage). This is the shape a video
    * pipeline needs: bytes stay in their partition, the reader is
    * opened once per payload, and only the narrow per-frame metadata
    * rows leave the stage.
    */
  def frameSampleImages(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        withImageReader(r.media) { reader =>
          val n = reader.getNumImages(true)
          val s = math.min(4, n)
          Some((0 until s).flatMap { k =>
            val fi = k * n / s
            // same bomb guard as readImage: header dims BEFORE the
            // per-frame raster allocation
            val (w, h) = (reader.getWidth(fi), reader.getHeight(fi))
            if (w <= 0 || h <= 0 || w.toLong * h > DefaultMaxPixels) Seq.empty
            else {
              val img = reader.read(fi)
              Seq((r.doc_id, k, fi, img.getWidth, img.getHeight, n))
            }
          })
        }.getOrElse(Seq.empty)
      }
    }.toDF("doc_id", "sample_idx", "frame_idx", "width", "height", "n_frames")
  }

}
