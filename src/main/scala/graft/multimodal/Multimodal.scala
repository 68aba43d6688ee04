package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch functions.
  *
  * Two decode tiers:
  * - REAL decoders for everything the JDK can express — images (PNG/JPEG/
  *   BMP/GIF via ImageIO: [[decodeImages]]/[[resizeImages]]), audio
  *   (WAV/AIFF via javax.sound: [[decodeAudio]]) and video (AVI/RIFF
  *   container with lossless PNG-coded 'MPNG' frames:
  *   [[synthesizeVideos]]/[[decodeVideos]]) — each roundtrip sits under the
  *   DuckDB hash gate via synthesized media whose decoded properties are
  *   pure arithmetic;
  * - deterministic STUBS ([[decodeStub]]/[[resizeStub]]/[[sampleFrames]])
  *   for foreign codecs the JVM can't decode (H.264 and friends) and for
  *   the text fixtures, which are not media — these keep the oracle
  *   queries reproducible.
  *
  * Common to both tiers is the Spark-side contract a 100 TB media pipeline
  * needs:
  * - schema: (id, media binary, media_type string, meta struct)
  * - partition-local batch processing via `mapPartitions` over a typed
  *   Dataset (the Scala analogue of `mapInPandas` batches: the decode
  *   library is initialized once per partition, rows stream through it)
  * - repartitioning by size so each task's batch of blobs fits executor
  *   memory, not driver memory.
  */
object Multimodal {

  case class MediaRow(id: Long, media: Array[Byte], media_type: String)
  case class MediaFeatures(
      id: Long,
      media_type: String,
      n_bytes: Long,
      // fake "decoded" metadata — deterministic functions of the bytes so
      // tests are stable; a real deployment swaps decodeStub for a codec.
      width: Int,
      height: Int,
      checksum: Long)

  /** Deterministic stand-in decoder for non-media blobs (the text fixtures)
    * and formats without an in-JVM codec — [[decodeImages]] is the real
    * path for images. The call sites, batching, and schema are identical.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Long) = {
    var checksum = 0L
    var i = 0
    while (i < bytes.length) { checksum = checksum * 31 + (bytes(i) & 0xff); i += 1 }
    val w = 64 + (math.abs(checksum) % 1024).toInt
    val h = 64 + (math.abs(checksum / 1024) % 1024).toInt
    (w, h, checksum)
  }

  /** Wrap any table into the canonical media schema by treating a string
    * column's UTF-8 bytes as the opaque blob — the fixture path for tests
    * (testdata has no binary columns).
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(payloadCol), "UTF-8").as("media"),
      lit(mediaType).as("media_type"))

  /** Partition-parallel feature extraction. `batchPartitions` controls blob
    * batch sizing: at scale, pick it so (partition bytes ≈ a few hundred MB)
    * — the blobs never pass through the driver and never shuffle (narrow
    * repartition only when asked).
    */
  def extractFeatures(media: DataFrame, batchPartitions: Option[Int] = None): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val sized = batchPartitions.map(media.repartition).getOrElse(media)
    sized.as[MediaRow].mapPartitions { rows =>
      // per-partition init happens here (decoder handles, model weights, ...)
      rows.map { r =>
        val (w, h, c) = decodeStub(r.media)
        MediaFeatures(r.id, r.media_type, r.media.length.toLong, w, h, c)
      }
    }
  }

  // ------------------------------------------------------------ real codecs
  //
  // The JDK ships actual decoders: javax.imageio reads PNG/JPEG/BMP/GIF and
  // javax.sound.sampled reads WAV/AIFF — no external libraries. The
  // operators below are REAL decode paths under the same partition-batched
  // contract as the stubs (stubs remain for the text fixtures, which are
  // not media). Undecodable blobs are flagged, never thrown: at 100 TB a
  // corrupt blob must not kill a 10-hour job.

  case class ImageMeta(
      id: Long, width: Int, height: Int, n_pixels: Long,
      mean_luma: Double, format_ok: Boolean)

  case class AudioMeta(
      id: Long, sample_rate: Int, channels: Int, n_frames: Long,
      duration_sec: Double, format_ok: Boolean)

  /** Real image decode (JDK ImageIO): dimensions + mean luminance sampled
    * on a bounded grid (≤ 64×64 probes per blob, so per-row cost is capped
    * regardless of image size). Partition-batched: codec setup happens once
    * per partition, blobs never visit the driver.
    */
  def decodeImages(media: DataFrame): Dataset[ImageMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition codec init: no disk-backed stream cache for in-memory
      // blobs, headless rendering pipeline
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
          if (img == null) ImageMeta(r.id, 0, 0, 0L, 0.0, format_ok = false)
          else {
            val w = img.getWidth
            val h = img.getHeight
            val sx = math.max(1, w / 64)
            val sy = math.max(1, h / 64)
            var sum = 0.0
            var n = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                n += 1
                x += sx
              }
              y += sy
            }
            ImageMeta(r.id, w, h, w.toLong * h, if (n == 0) 0.0 else sum / n, format_ok = true)
          }
        } catch { case scala.util.control.NonFatal(_) =>
          ImageMeta(r.id, 0, 0, 0L, 0.0, format_ok = false)
        }
      }
    }
  }

  /** Synthesize solid-gray PNGs from an (id, width, height, gray) spec —
    * real encoded images whose decoded properties are pure arithmetic of
    * the spec, which makes the REAL codec roundtrip (encode → PNG bytes →
    * [[decodeImages]]) oracle-checkable in plain SQL.
    */
  def synthesizeImages(spec: DataFrame): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec
      .select(col("id").cast("long"), col("width").cast("int"),
        col("height").cast("int"), col("gray").cast("int"))
      // spread the SLIM spec rows (4 ints) before the codec map: encode
      // CPU per row dwarfs the exchange, and without it parallelism is
      // whatever the spec's file layout happened to be (a single small
      // parquet file = ONE task doing all the codec work — measured as
      // q71/q82/q93's whole cost). Hash on the unique id spreads evenly.
      // The partition count is EXPLICIT (defaultParallelism = total cores,
      // locally and on a cluster): a keyless-width repartition of a sub-MB
      // spec gets coalesced back to ONE partition by AQE (the spec bytes
      // sit below coalescePartitions.minPartitionSize), silently
      // serializing the codec work again — AQE sizes partitions by INPUT
      // bytes and cannot see the per-row codec cost behind the map
      // (guide §2.3/§8: shuffle small rows, produce heavy bytes where
      // they are consumed).
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, Int, Int, Int)]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, w, h, c) =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          g.setColor(new java.awt.Color(c, c, c))
          g.fillRect(0, 0, w, h)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaRow(id, bos.toByteArray, "image/png")
        }
      }.toDF()
  }

  /** Real image resize (JDK Graphics2D, headless): scale to `targetWidth`
    * preserving aspect ratio, re-encode as `format`. Blobs that don't
    * decode pass through unchanged (flag-don't-throw, as above).
    */
  def resizeImages(media: DataFrame, targetWidth: Int = 64, format: String = "png"): DataFrame = {
    require(targetWidth >= 1, s"targetWidth must be >= 1, got $targetWidth")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
          if (img == null) r
          else {
            val h = math.max(1, (img.getHeight.toLong * targetWidth / math.max(1, img.getWidth)).toInt)
            val dst = new java.awt.image.BufferedImage(
              targetWidth, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = dst.createGraphics()
            g.drawImage(img, 0, 0, targetWidth, h, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            // write() returns false (no exception) when no writer exists
            // for `format` — pass the row through rather than emitting a
            // silent zero-byte blob
            if (javax.imageio.ImageIO.write(dst, format, bos))
              MediaRow(r.id, bos.toByteArray, s"image/$format")
            else r
          }
        } catch { case scala.util.control.NonFatal(_) => r }
      }
    }.toDF()
  }

  /** Synthesize real PCM-16 silence WAVs from an (id, sample_rate, channels,
    * n_frames) spec — the audio analogue of [[synthesizeImages]]: the JDK's
    * WAV writer produces real RIFF bytes whose decoded header fields are
    * pure arithmetic of the spec, so the REAL codec roundtrip (encode → WAV
    * bytes → [[decodeAudio]]) is oracle-checkable in plain SQL.
    */
  def synthesizeAudio(spec: DataFrame): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec
      .select(col("id").cast("long"), col("sample_rate").cast("int"),
        col("channels").cast("int"), col("n_frames").cast("int"))
      // NO explicit spread here, unlike the image/video synthesizers:
      // javax.sound's AudioSystem write/read goes through a global
      // service-provider lookup that CONTENDS under many concurrent
      // tasks — the 32-way spread MEASURED ~1.5× slower than the
      // file-layout partitioning on the sf0.1 bench corpus (1.88 s →
      // worse, vs images/videos improving 2–3×). Parallelism here stays
      // whatever the spec's layout provides.
      .as[(Long, Int, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, rate, ch, frames) =>
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, ch, true, false) // PCM signed 16-bit little-endian
          val pcm = new Array[Byte](frames * fmt.getFrameSize) // silence
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          ais.close()
          MediaRow(id, bos.toByteArray, "audio/wav")
        }
      }.toDF()
  }

  /** Real audio header decode (JDK javax.sound.sampled — WAV/AIFF): sample
    * rate, channels, frame count, duration. Header-only — the PCM payload
    * is not pulled through memory.
    */
  def decodeAudio(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.media))
          val fmt = ais.getFormat
          val frames = ais.getFrameLength
          val out = AudioMeta(r.id, fmt.getSampleRate.toInt, fmt.getChannels, frames,
            if (fmt.getSampleRate > 0) frames / fmt.getSampleRate.toDouble else 0.0,
            format_ok = true)
          ais.close()
          out
        } catch { case scala.util.control.NonFatal(_) =>
          AudioMeta(r.id, 0, 0, 0L, 0.0, format_ok = false)
        }
      }
    }
  }

  // ------------------------------------------------------------ video (AVI)
  //
  // The JDK has no inter-frame video codec, but a REAL video container with
  // an intra-frame codec is fully decodable in pure JDK: AVI is a RIFF file
  // (the same chunk grammar as WAV) and the registered 'MPNG' fourcc stores
  // one PNG per frame — lossless, so every decoded pixel is predictable and
  // the whole roundtrip sits under the oracle gate. The container walking
  // (chunk parse → frame iteration → per-frame decode) is exactly the work
  // a production frame sampler does; only the per-frame codec would change.

  case class VideoMeta(
      id: Long, width: Int, height: Int, n_frames: Long,
      first_luma: Double, last_luma: Double, format_ok: Boolean)

  private object Riff {
    def u32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def u16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fcc(id) ++ u32(data.length.toLong) ++ data ++ pad
    }
    def list(listType: String, data: Array[Byte]): Array[Byte] =
      chunk("LIST", fcc(listType) ++ data)
    def readU32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) | ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")
  }

  /** Synthesize real AVI/MPNG videos from an (id, width, height, n_frames,
    * gray0) spec: frame f is a solid-gray PNG with gray = (gray0 + 37·f)
    * mod 256 — the video analogue of [[synthesizeImages]]; every decoded
    * property is pure arithmetic of the spec.
    */
  def synthesizeVideos(spec: DataFrame): DataFrame = {
    val spark = spec.sparkSession
    import spark.implicits._
    spec
      .select(col("id").cast("long"), col("width").cast("int"), col("height").cast("int"),
        col("n_frames").cast("int"), col("gray0").cast("int"))
      // slim-spec spread at explicit width before the codec map — see
      // synthesizeImages (AQE would coalesce a keyless-width sub-MB
      // shuffle back to one partition)
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        import Riff._
        rows.map { case (id, w, h, n, gray0) =>
          val frames = (0 until n).map { f =>
            val g = (gray0 + 37 * f) % 256
            val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gg = img.createGraphics()
            gg.setColor(new java.awt.Color(g, g, g)); gg.fillRect(0, 0, w, h); gg.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
          val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
          val avih = u32(40000L) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(n.toLong) ++ u32(0) ++
            u32(1) ++ u32(maxFrame.toLong) ++ u32(w.toLong) ++ u32(h.toLong) ++
            u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
          val strh = fcc("vids") ++ fcc("MPNG") ++ u32(0) ++ u16(0) ++ u16(0) ++ u32(0) ++
            u32(1) ++ u32(25) ++ u32(0) ++ u32(n.toLong) ++ u32(maxFrame.toLong) ++
            u32(0xffffffffL) ++ u32(0) ++ u16(0) ++ u16(0) ++ u16(w) ++ u16(h)
          val strf = u32(40) ++ u32(w.toLong) ++ u32(h.toLong) ++ u16(1) ++ u16(24) ++
            fcc("MPNG") ++ u32(w.toLong * h * 3) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
          val hdrl = list("hdrl", chunk("avih", avih) ++
            list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
          val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
          val riffBody = fcc("AVI ") ++ hdrl ++ movi
          val bytes = fcc("RIFF") ++ u32(riffBody.length.toLong) ++ riffBody
          MediaRow(id, bytes, "video/x-msvideo")
        }
      }.toDF()
  }

  /** Real AVI decode: walk the RIFF chunk tree to the 'movi' list, decode
    * every video frame chunk with ImageIO, report frame count, dimensions,
    * and first/last-frame mean luma. Corrupt blobs are flagged, never
    * thrown. Partition-batched like every other codec path.
    */
  def decodeVideos(media: DataFrame): Dataset[VideoMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
      import Riff._
      def meanLuma(img: java.awt.image.BufferedImage): Double = {
        var sum = 0.0; var n = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        if (n == 0) 0.0 else sum / n
      }
      rows.map { r =>
        try {
          val b = r.media
          require(b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI ", "not an AVI")
          var first: java.awt.image.BufferedImage = null
          var last: java.awt.image.BufferedImage = null
          var frames = 0L
          var corrupt = false
          // walk the chunk tree; descend into LISTs, decode '..dc'/'..db'
          // video frame chunks wherever the movi list puts them. The u32
          // chunk size is untrusted: a value the enclosing container cannot
          // hold (including u32 > Int.MaxValue, which would wrap negative)
          // flags the blob as corrupt and STOPS the walk — clamping could
          // leave `p` non-advancing, turning a bad blob into a hang.
          def walk(off: Int, end: Int): Unit = {
            var p = off
            while (!corrupt && p + 8 <= end) {
              val id = fourcc(b, p)
              val sizeL = readU32(b, p + 4)
              val body = p + 8
              if (sizeL > (end - body).toLong) corrupt = true
              else {
                val size = sizeL.toInt
                if (id == "LIST") walk(body + 4, body + size)
                else if (id.endsWith("dc") || id.endsWith("db")) {
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(b, body, size))
                  if (img != null) {
                    if (first == null) first = img
                    last = img
                    frames += 1
                  }
                }
                p = body + size + (size % 2) // chunks pad to even
              }
            }
          }
          val riffEnd = math.min(b.length.toLong, 8L + readU32(b, 4)).toInt
          walk(12, riffEnd)
          if (corrupt || first == null) VideoMeta(r.id, 0, 0, 0L, 0.0, 0.0, format_ok = false)
          else VideoMeta(r.id, first.getWidth, first.getHeight, frames,
            meanLuma(first), meanLuma(last), format_ok = true)
        } catch { case scala.util.control.NonFatal(_) =>
          VideoMeta(r.id, 0, 0, 0L, 0.0, 0.0, format_ok = false)
        }
      }
    }
  }

  /** Deterministic "resize" stub: byte-domain downsample keeping every
    * `factor`-th byte — stands in for an image resize the way decodeStub
    * stands in for a decoder (no codecs in-container). The Spark-side
    * contract (binary in → smaller binary out, map-only, partition-batched)
    * is the real artifact.
    */
  def resizeStub(media: DataFrame, factor: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val out = Array.ofDim[Byte]((r.media.length + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = r.media(i * factor); i += 1 }
        MediaRow(r.id, out, r.media_type)
      }
    }.toDF()
  }

  /** Deterministic frame-sampling stub for "video": pick every `stride`-th
    * byte offset as a fake frame index list — exercises the
    * array-of-offsets schema a real frame sampler produces.
    */
  def sampleFrames(media: DataFrame, stride: Int = 100): DataFrame =
    media.select(
      col("id"),
      col("media_type"),
      when(octet_length(col("media")) === 0, array().cast("array<int>"))
        .otherwise(sequence(lit(0), octet_length(col("media")) - 1, lit(stride)))
        .as("frame_offsets"))
}
