package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media (image/audio/video) travels as an opaque `binary` column with
  * typed metadata alongside — the same pattern as parquet-backed
  * datasets of tensors: the engine never interprets the payload in the
  * plan, only in well-bounded per-partition decode stages.
  *
  * Codec status — every task-list stage (decode / feature-extract /
  * resize / frame-sample) runs through a REAL pure-JVM codec:
  * IMAGE decode+resize via `javax.imageio` (PNG/BMP/GIF/JPEG,
  * [[MediaCodec.decodeImageRgb]]), AUDIO via `javax.sound.sampled`
  * RIFF/WAVE encode+decode ([[MediaCodec.encodeWavPcm16]] /
  * [[MediaCodec.decodeWavSamples]]), and MULTI-FRAME extraction via
  * `javax.imageio` animated-GIF sequences
  * ([[MediaCodec.encodeAnimatedGif]]/[[MediaCodec.decodeGifFrames]] —
  * the one multi-frame container the JVM ships a codec for; frame
  * EXTRACTION in [[gifFrameStats]], stride SAMPLING in
  * [[sampleGifFrames]]). True video codecs (H.264 etc.) and learned
  * featurizers don't exist in this container; the digest-based
  * [[MediaCodec.decodeFeature]] fake remains as the shape contract
  * for those native stages. The Scala analog of a Pandas-UDF
  * `mapInPandas` decode is the typed `mapPartitions` below: one codec
  * init per partition, streaming row batches through it.
  */
object Multimodal {

  /** Spread a key column across the full core count BEFORE a
    * CPU-bound codec stage. Codec decode cost is per-ROW, not
    * per-byte-of-input-file, so its parallelism must not be inherited
    * from the scan's file-split count: a documents table that fits in
    * one parquet split (one 584 KB file at sf0.1 — or, at 100 TB, any
    * layout with fewer large files than cores) would otherwise run
    * every encode/decode on a single core while 31 idle. The shuffle
    * moved is only the id column (8 bytes/row) — payloads are
    * GENERATED after the exchange — so the repartition is ~free and
    * the codec stage scales with the cluster, not the file count.
    * Hash-on-id (not round-robin) keeps the placement deterministic. */
  private def spreadForCodec(ids: Dataset[Long]): Dataset[Long] = {
    val par = ids.sparkSession.sparkContext.defaultParallelism
    ids.repartition(par, col(ids.columns.head))
  }

  /** A media row: payload + self-describing metadata. */
  final case class MediaRecord(
      media_id: Long,
      media: Array[Byte],
      mediaType: String,            // e.g. image/jpeg, audio/wav
      sourceUri: String,
      width: Option[Int],
      height: Option[Int],
      durationMs: Option[Long])

  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      digest: String,
      feature: Array[Float])        // decoded embedding/feature vector

  /** Decoded-image statistics: dimensions + per-channel pixel sums
    * (integer-exact — the verifiable core of any pixel featurizer). */
  final case class ImageStats(
      media_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** Decoded-audio statistics: format + integer-exact sample moments
    * (the verifiable core of loudness/clipping/silence gates). */
  final case class AudioStats(
      media_id: Long,
      sample_rate: Int,
      n_samples: Long,
      sum_samples: Long,
      max_abs: Long)

  /** STUB decode: a real implementation hands the payload bytes to an
    * image or audio codec. The deterministic fake derives a feature
    * vector from the payload's MD5 hex digest (lane sums of the 32
    * ASCII char codes, 4 chars per lane) so downstream plumbing (ANN
    * over features, dedup on digests) is exercised with stable values
    * that an external SQL oracle can reproduce (`md5()` + `ord()` are
    * portable; raw-byte folds in float32 are not). Lane sums are small
    * integers, so the Float values are exact. */
  object MediaCodec {
    // ImageIO defaults to FILE-backed cache streams: every encode and
    // decode (including the ImageIO.read/write convenience paths)
    // spills through a disk temp file — create + write + delete per
    // RECORD, which serializes codec stages on filesystem latency.
    // Every payload here is an in-memory byte array, so cache in
    // memory. Per-JVM; runs once per executor at first codec use.
    javax.imageio.ImageIO.setUseCache(false)

    val FeatureDim = 8

    def decodeFeature(digestHex: String): Array[Float] = {
      // ??? — a real featurizer is a learned model (CLIP-style vision /
      // audio embedding), unavailable in this container; the CODECS are
      // real ([[decodeImage]]/[[decodeWav]]) — this fake stands in for
      // the model inference step only. Deterministic fake:
      require(digestHex.length == 32, s"expected 32 hex chars, got ${digestHex.length}")
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < digestHex.length) {
        out(i % FeatureDim) += digestHex.charAt(i).toInt
        i += 1
      }
      out
    }

    /** REAL codec — PNG encode via pure-JVM `javax.imageio` (no
      * external libraries): render an RGB pixel function into
      * losslessly-compressed PNG bytes. `rgb(x, y)` returns packed
      * 0xRRGGBB. */
    def encodePng(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** REAL codec — full-pixel image decode via `javax.imageio` (PNG
      * always available on the JVM; BMP/GIF/JPEG ride the same call):
      * payload bytes → (width, height, packed 0xRRGGBB row-major
      * pixels). None when the payload is not a decodable image —
      * callers skip, mirroring the skip-entity error policy
      * (reference GRAPH-PS:116-130: one bad record must not fail the
      * load). */
    def decodeImageRgb(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val rgb = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { rgb(y * w + x) = img.getRGB(x, y) & 0xFFFFFF; x += 1 }
            y += 1
          }
          Some((w, h, rgb))
        }
      } catch {
        // imageio readers throw RuntimeExceptions (AIOOBE, IAE, NASE)
        // on many malformed payloads, not just IOException — any
        // decode failure is a skip, never a job abort
        case scala.util.control.NonFatal(_) => None
      }

    /** [[decodeImageRgb]] reduced to dimensions + per-channel sums. */
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
      decodeImageRgb(bytes).map { case (w, h, rgb) =>
        var (sr, sg, sb) = (0L, 0L, 0L)
        var i = 0
        while (i < rgb.length) {
          val p = rgb(i)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          i += 1
        }
        (w, h, sr, sg, sb)
      }

    // javax.sound's AudioSystem.getAudioInputStream / AudioSystem.write
    // facades re-run a ServiceLoader provider scan on EVERY call
    // (JDK13Services hands back a fresh provider list each time), and
    // for payloads this small the scan dwarfs the actual RIFF parse.
    // Resolve the SPI providers once per JVM and dispatch directly;
    // fall back to the facade if the loader finds nothing (exotic
    // classloader setups), so behavior never regresses.
    // WAV-capable readers are consulted FIRST: the JDK's provider list
    // leads with AIFF/AU/MIDI, and the MIDI reader's rejection path
    // re-runs its own provider scan per call (synchronized — it
    // serializes a 32-thread decode stage); for the RIFF payloads this
    // engine carries, the Wave reader accepting on the first try keeps
    // the rejection paths cold.
    private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
      val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .forEach(r => b += r)
      b.result().sortBy(r =>
        if (r.getClass.getSimpleName.startsWith("Wave")) 0 else 1)
    }
    private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
      val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .forEach(w => b += w)
      b.result()
    }

    /** REAL codec — WAV encode via pure-JVM `javax.sound.sampled` (no
      * external libraries, the audio analog of [[encodePng]]): mono
      * signed PCM16 little-endian samples → a complete RIFF/WAVE
      * container. */
    def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      require(sampleRate > 0, s"bad sample rate $sampleRate")
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) & 0xFF).toByte
        bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
      audioWriters.find(_.isFileTypeSupported(wave, ais)) match {
        case Some(w) => w.write(ais, wave, out)
        case None    => javax.sound.sampled.AudioSystem.write(ais, wave, out)
      }
      out.toByteArray
    }

    /** REAL codec — full-sample WAV decode via `javax.sound.sampled`:
      * payload bytes → the signed PCM16 samples. Handles mono PCM16 in
      * either endianness; None on anything undecodable or a different
      * format — callers skip (the same skip-entity policy as
      * [[decodeImageRgb]]). */
    def decodeWavSamples(bytes: Array[Byte]): Option[Array[Short]] =
      decodeWavRateSamples(bytes).map(_._2)

    /** One-pass WAV decode to (sampleRate, samples) — the container is
      * opened and parsed ONCE; [[decodeWavSamples]] and [[decodeWav]]
      * are projections of this (decodeWav previously re-opened the
      * payload just to read the rate, doubling per-row decode cost in
      * the mapPartitions stage). */
    def decodeWavRateSamples(bytes: Array[Byte]): Option[(Int, Array[Short])] =
      try {
        val in = new java.io.ByteArrayInputStream(bytes)
        val ais =
          if (audioReaders.isEmpty)
            javax.sound.sampled.AudioSystem.getAudioInputStream(in)
          else audioReaders.iterator.flatMap { r =>
            in.reset() // ByteArrayInputStream: back to offset 0
            try Some(r.getAudioInputStream(in))
            catch {
              case _: javax.sound.sampled.UnsupportedAudioFileException => None
            }
          }.nextOption().getOrElse(
            throw new javax.sound.sampled.UnsupportedAudioFileException(
              "no provider recognizes the payload"))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
            fmt.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val data = ais.readAllBytes()
          val le = !fmt.isBigEndian
          val out = new Array[Short](data.length / 2)
          var i = 0
          while (i + 1 < data.length) {
            val lo = data(if (le) i else i + 1) & 0xFF
            val hi: Int = data(if (le) i + 1 else i) // sign-extends
            out(i / 2) = ((hi << 8) | lo).toShort
            i += 2
          }
          Some((fmt.getSampleRate.toInt, out))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** REAL codec — multi-frame (animated) GIF encode via pure-JVM
      * `javax.imageio` write sequences: `rgb(frame, x, y)` rendered
      * into one GIF container holding `frames` full frames. GIF is
      * palettized (≤256 colors per frame) — callers wanting exact
      * round-trips keep each frame's distinct-color count under that,
      * which the writer then encodes losslessly. The closest thing to
      * a video container the JVM ships a codec for. */
    def encodeAnimatedGif(width: Int, height: Int, frames: Int,
        rgb: (Int, Int, Int) => Int): Array[Byte] = {
      require(width > 0 && height > 0 && frames > 0,
        s"bad shape ${width}x$height x$frames")
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        // GIF interlacing is ON by default and permutes row storage
        // order — harmless for viewers, fatal for pixel-exact stats
        // (the isolated round-trip showed rows 1/2 swapped at h=3)
        val wp = writer.getDefaultWriteParam
        wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        var f = 0
        while (f < frames) {
          // an INDEXED frame with an exact per-frame palette: the GIF
          // writer stores the color table verbatim (a TYPE_INT_RGB
          // frame would get quantized through the default 216-color
          // web palette and break pixel-exact round-trips)
          val pixels = Array.tabulate(height, width)((y, x) => rgb(f, x, y))
          val palette = pixels.flatten.distinct
          require(palette.length <= 256,
            s"frame $f has ${palette.length} colors — GIF holds at most 256")
          val icm = new java.awt.image.IndexColorModel(8, palette.length,
            palette.map(p => ((p >> 16) & 0xFF).toByte),
            palette.map(p => ((p >> 8) & 0xFF).toByte),
            palette.map(p => (p & 0xFF).toByte))
          val img = new java.awt.image.BufferedImage(width, height,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) { img.setRGB(x, y, pixels(y)(x)); x += 1 }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), wp)
          f += 1
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

    /** REAL codec — multi-frame GIF decode: every frame's dimensions
      * + per-channel pixel sums, in frame order. None when the payload
      * is not a decodable GIF (same skip-entity policy). */
    def decodeGifFrames(bytes: Array[Byte])
        : Option[Seq[(Int, Int, Long, Long, Long)]] =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            Some((0 until n).map { i =>
              val img = reader.read(i)
              var (sr, sg, sb) = (0L, 0L, 0L)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val p = img.getRGB(x, y)
                  sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                  x += 1
                }
                y += 1
              }
              (img.getWidth, img.getHeight, sr, sg, sb)
            })
          } finally reader.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** REAL codec — multi-frame GIF decode to PIXELS: every frame's
      * dimensions + row-major 0xRRGGBB pixel array, in frame order
      * (the pixel-level sibling of [[decodeGifFrames]], for stages
      * that fingerprint or transform frame content rather than
      * aggregate it). None on undecodable payloads (same skip-entity
      * policy). */
    def decodeGifFramePixels(bytes: Array[Byte])
        : Option[Seq[(Int, Int, Array[Int])]] =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            Some((0 until n).map { i =>
              val img = reader.read(i)
              val (w, h) = (img.getWidth, img.getHeight)
              val rgb = new Array[Int](w * h)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  rgb(y * w + x) = img.getRGB(x, y) & 0xFFFFFF
                  x += 1
                }
                y += 1
              }
              (w, h, rgb)
            })
          } finally reader.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** [[decodeWavRateSamples]] reduced to (sampleRate, nSamples,
      * Σ samples, max |sample|), all integer-exact. One container
      * parse. */
    def decodeWav(bytes: Array[Byte]): Option[(Int, Long, Long, Long)] =
      decodeWavRateSamples(bytes).map { case (rate, samples) =>
        var sum = 0L; var maxAbs = 0L
        var i = 0
        while (i < samples.length) {
          sum += samples(i)
          val a = math.abs(samples(i).toLong)
          if (a > maxAbs) maxAbs = a
          i += 1
        }
        (rate, samples.length.toLong, sum, maxAbs)
      }
  }

  /** Fabricate a media table from the documents fixture: the text bytes
    * stand in for an encoded payload. Real pipelines read
    * `binaryFile` sources or parquet with a binary column. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("media"),
        lit("application/octet-stream").as("mediaType"),
        concat(lit("mem://documents/"), col("doc_id")).as("sourceUri"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("durationMs"))
      .as[MediaRecord]
  }

  /** Deterministic PNG fixture table: each document id becomes a REAL
    * PNG whose pixels are a closed-form function of (id, x, y). The
    * engine path genuinely encodes and decodes PNG bytes; an external
    * SQL oracle reproduces the decoded-pixel statistics from the
    * closed form without needing a codec — the pattern for verifying
    * any media stage whose decoder the oracle lacks. */
  /** The ONE closed-form pixel function behind every PNG fixture
    * (base images, edited near-dup copies, file fixtures) — the m04/
    * m06/m09/m11/m12 oracles all re-derive exactly this formula, so it
    * must never fork. */
  private[multimodal] def pngPixel(id: Long)(x: Int, y: Int): Int = {
    val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
    val g = ((id * 17 + x * 11 + y * 3) % 256).toInt
    val b = ((id * 23 + x * 5 + y * 19) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  private def pngRecord(id: Long, mediaId: Long, uri: String,
      px: (Int, Int) => Int): MediaRecord = {
    val w = (4 + id % 5).toInt
    val h = (4 + id % 3).toInt
    MediaRecord(mediaId, MediaCodec.encodePng(w, h, px), "image/png",
      uri, Some(w), Some(h), None)
  }

  def pngFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .transform(spreadForCodec)
      .mapPartitions { ids =>
        ids.map(id => pngRecord(id, id, s"mem://png/$id", pngPixel(id)))
      }
  }

  /** NEAR-DUPLICATE copies of a slice of [[pngFromDocuments]]: every
    * doc_id % 10 == 0 image re-rendered from the SAME closed-form
    * pixel function with its (0,0) source pixel blown out to white —
    * the minimal "small edit" (a watermark stamp, a recompression
    * artifact) image dedup exists to catch. Copy ids are offset by
    * `idOffset` so the two sets coexist in one table; an oracle
    * reproduces the edited pixels with one CASE over the closed
    * form. */
  def pngEditedCopies(spark: SparkSession, sfDir: String,
      idOffset: Long = EditedIdOffset): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .filter(_ % 10 == 0)
      .transform(spreadForCodec)
      .mapPartitions { ids =>
        ids.map { id =>
          // an id at/above the offset would collide with a copy id and
          // silently corrupt the planted-pair accounting downstream
          require(id >= 0 && id < idOffset,
            s"doc_id $id outside [0, $idOffset) — raise idOffset")
          pngRecord(id, id + idOffset, s"mem://png-edit/$id",
            (x, y) => if (x == 0 && y == 0) 0xFFFFFF else pngPixel(id)(x, y))
        }
      }
  }

  /** Copy-id offset for [[pngEditedCopies]] — the single definition
    * the m12 planted-pair predicate references (the m12 SQL oracle
    * embeds the same literal, as oracles do). */
  val EditedIdOffset: Long = 10000000L

  /** Deterministic WAV fixture table: each document id becomes a REAL
    * mono-PCM16 WAV whose samples are a closed-form function of
    * (id, i) — the audio analog of [[pngFromDocuments]]: the engine
    * path genuinely encodes and decodes RIFF/WAVE bytes; an external
    * SQL oracle reproduces the decoded-sample statistics from the
    * closed form without needing a codec. */
  def wavFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .transform(spreadForCodec)
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (64 + id % 33).toInt
          val rate = (8000 + (id % 3) * 4000).toInt
          val samples = Array.tabulate(n) { i =>
            (((id * 7919 + i.toLong * 104729) % 65536) - 32768).toShort
          }
          val bytes = MediaCodec.encodeWavPcm16(rate, samples)
          MediaRecord(id, bytes, "audio/wav", s"mem://wav/$id",
            None, None, Some(n * 1000L / rate))
        }
      }
  }

  /** Deterministic animated-GIF fixture table: each document id
    * becomes a REAL multi-frame GIF whose frame pixels are a
    * closed-form function of (id, frame, x, y) — the video analog of
    * [[pngFromDocuments]]: genuine container bytes through a genuine
    * multi-frame codec, statistics an oracle reproduces with no
    * codec. Frames are small (≤ 24 px, far under GIF's 256-color
    * palette bound) so the encode is lossless. */
  def gifFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .transform(spreadForCodec)
      .mapPartitions { ids =>
        ids.map { id =>
          val frames = (2 + id % 3).toInt
          val w = (3 + id % 4).toInt
          val h = (3 + id % 2).toInt
          val bytes = MediaCodec.encodeAnimatedGif(w, h, frames, (f, x, y) => {
            val r = ((id * 29 + f * 41 + x * 7 + y * 13) % 256).toInt
            val g = ((id * 37 + f * 43 + x * 11 + y * 3) % 256).toInt
            val b = ((id * 41 + f * 47 + x * 5 + y * 19) % 256).toInt
            (r << 16) | (g << 8) | b
          })
          MediaRecord(id, bytes, "image/gif", s"mem://gif/$id",
            Some(w), Some(h), Some(frames * 100L))
        }
      }
  }

  /** Per-partition REAL multi-frame decode stage: every frame of every
    * GIF payload through [[MediaCodec.decodeGifFrames]] — the frame
    * extraction step of a video pipeline, run on a genuine container.
    * Undecodable payloads are skipped. Narrow map — no shuffle.
    * Output: (media_id, frame_idx, width, height, sum_r, sum_g,
    * sum_b). */
  def gifFrameStats(media: Dataset[MediaRecord]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeGifFrames(r.media).toSeq.flatMap(_.zipWithIndex.map {
          case ((w, h, sr, sg, sb), i) =>
            (r.media_id, i.toLong, w, h, sr, sg, sb)
        })
      }
    }.toDF("media_id", "frame_idx", "width", "height",
      "sum_r", "sum_g", "sum_b")
  }

  /** Per-partition REAL image RESIZE stage: decode the payload, map
    * every output pixel to its nearest-neighbor source pixel
    * (`src = floor(dst * srcDim / outDim)` — pure integer math, the
    * standard NN resample), and emit the RESIZED image's channel
    * sums. The resize every vision-training pipeline runs before
    * batching, with integer-exact statistics an external oracle can
    * reproduce from the source pixels without any image library.
    * Undecodable payloads are skipped. Narrow map — no shuffle. */
  def resizedImageStats(media: Dataset[MediaRecord], outW: Int,
      outH: Int): Dataset[ImageStats] = {
    require(outW > 0 && outH > 0, s"bad output dims ${outW}x$outH")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeImageRgb(r.media).map { case (w, h, rgb) =>
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < outH) {
            val sy = y * h / outH
            var x = 0
            while (x < outW) {
              val p = rgb(sy * w + x * w / outW)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              x += 1
            }
            y += 1
          }
          ImageStats(r.media_id, outW, outH, sr, sg, sb)
        }
      }
    }
  }

  /** Per-partition perceptual image hash (aHash, the classic
    * average-hash fingerprint): decode the REAL image, resize to
    * side×side by the same nearest-neighbor index math as
    * [[resizedImageStats]], grayscale each sample as (r+g+b)/3
    * (integer), threshold against the integer mean of the side² grays,
    * and pack the bits row-major (bit y·side+x set iff gray > mean).
    * THE image-dedup fingerprint: near-duplicate images
    * (recompression, small edits, minor crops) land within a few bits
    * of hamming, so the SimHash chunk-collision pair machinery (d04)
    * applies to images unchanged. side ≤ 8 keeps the hash in one
    * 64-bit word, emitted as two unsigned 32-bit halves
    * (`ahash_lo`/`ahash_hi`) so an oracle can rebuild it without
    * signed-overflow gymnastics, plus the set-bit count. Integer-exact
    * end to end; map-only over the payload scan, no shuffle. */
  def imageAHash(media: Dataset[MediaRecord], side: Int = 8): DataFrame = {
    require(side > 0 && side <= 8, s"side must be in [1,8], got $side")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeImageRgb(r.media).map { case (w, h, rgb) =>
          val n = side * side
          val gray = new Array[Int](n)
          var sum = 0L
          var y = 0
          while (y < side) {
            val sy = y * h / side
            var x = 0
            while (x < side) {
              val p = rgb(sy * w + x * w / side)
              val g = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) +
                (p & 0xFF)) / 3
              gray(y * side + x) = g
              sum += g
              x += 1
            }
            y += 1
          }
          val mean = sum / n
          var bits = 0L
          var nSet = 0L
          var i = 0
          while (i < n) {
            if (gray(i) > mean) { bits |= 1L << i; nSet += 1 }
            i += 1
          }
          (r.media_id, bits & 0xFFFFFFFFL, bits >>> 32, nSet)
        }
      }
    }.toDF("media_id", "ahash_lo", "ahash_hi", "n_set")
  }

  /** Per-partition REAL audio feature extraction: decode the WAV and
    * reduce it to an 8-band energy profile — Σ|sample| per contiguous
    * eighth of the stream (band b covers samples
    * [floor(b·n/8), floor((b+1)·n/8))). The cheap fingerprint audio
    * dedup/quality gates run on, integer-exact so an oracle
    * reproduces every band from the sample function with no codec.
    * Output: (media_id, e0..e7 as an array). */
  def audioEnergyProfile(media: Dataset[MediaRecord],
      bands: Int = 8): DataFrame = {
    require(bands > 0, s"bands must be positive, got $bands")
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeWavSamples(r.media).map { samples =>
          val n = samples.length
          val e = new Array[Long](bands)
          var b = 0
          while (b < bands) {
            var i = b.toLong * n / bands
            val end = (b + 1).toLong * n / bands
            var acc = 0L
            while (i < end) { acc += math.abs(samples(i.toInt).toLong); i += 1 }
            e(b) = acc
            b += 1
          }
          (r.media_id, e.toSeq)
        }
      }
    }.toDF("media_id", "energy")
  }

  /** Per-partition REAL audio decode stage: payloads through
    * [[MediaCodec.decodeWav]]; undecodable rows are skipped. Narrow
    * map over the scan — no shuffle. */
  def decodeAudioStats(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeWav(r.media).map { case (rate, n, sum, maxAbs) =>
          AudioStats(r.media_id, rate, n, sum, maxAbs)
        }
      }
    }
  }

  /** Per-partition REAL image decode stage: payloads through
    * [[MediaCodec.decodeImage]]; undecodable rows are skipped (the
    * media analog of the reference's skip-entity error policy). Narrow
    * map over the scan — no shuffle. */
  def decodeImageStats(media: Dataset[MediaRecord]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeImage(r.media).map { case (w, h, sr, sg, sb) =>
          ImageStats(r.media_id, w, h, sr, sg, sb)
        }
      }
    }
  }

  /** Per-partition decode stage (mapInPandas analog): codec state is
    * initialized once per partition, rows stream through. Output is a
    * narrow typed Dataset — no shuffle introduced. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec init: one digest instance (reset per row)
      // and a hex table — no per-row provider lookups or Formatters
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = "0123456789abcdef".toCharArray
      rows.map { r =>
        md.reset()
        val d = md.digest(r.media)
        val sb = new java.lang.StringBuilder(32)
        d.foreach { b => sb.append(hex((b >> 4) & 0xF)).append(hex(b & 0xF)) }
        val digest = sb.toString
        MediaFeatures(r.media_id, r.media.length.toLong, digest,
          MediaCodec.decodeFeature(digest))
      }
    }
  }

  /** Per-partition REAL image FEATURE extraction: per-channel color
    * histogram over the decoded pixels — `bins` equal-width buckets
    * per RGB channel, integer-exact counts. The classic pre-learned
    * retrieval/near-dup image feature (what embedding models replaced,
    * and still the cheap first-pass filter at corpus scale); unlike
    * the digest-based [[MediaCodec.decodeFeature]] shape contract this
    * is REAL feature extraction from REAL decoded pixel data, and an
    * external oracle reproduces every count from the pixel function
    * with no codec. Long-format output (media_id, channel, bin, n) —
    * ready for the bucketed-join dedup shapes. Undecodable payloads
    * are skipped. Narrow map — no shuffle. */
  def imageHistogram(media: Dataset[MediaRecord], bins: Int = 4): DataFrame = {
    require(bins > 0 && 256 % bins == 0,
      s"bins must divide 256, got $bins")
    val width = 256 / bins
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeImageRgb(r.media).toSeq.flatMap {
          case (_, _, rgb) =>
            val counts = Array.ofDim[Long](3, bins)
            var i = 0
            while (i < rgb.length) {
              val p = rgb(i)
              counts(0)(((p >> 16) & 0xFF) / width) += 1
              counts(1)(((p >> 8) & 0xFF) / width) += 1
              counts(2)((p & 0xFF) / width) += 1
              i += 1
            }
            for ((name, idx) <- Seq(("r", 0), ("g", 1), ("b", 2));
                 b <- 0 until bins)
              yield (r.media_id, name, b.toLong, counts(idx)(b))
        }
      }
    }.toDF("media_id", "channel", "bin", "n")
  }

  /** Per-partition REAL frame SAMPLING stage: decode the multi-frame
    * GIF container ([[MediaCodec.decodeGifFramePixels]]), keep every
    * `stride`-th frame, and emit each sampled frame's dimensions plus
    * an order-sensitive pixel fingerprint — the polynomial fold
    * `fp = (fp·31 + pixel) mod (2³¹−1)` over row-major 0xRRGGBB
    * values. Channel sums (m08) cannot tell two frames with permuted
    * pixels apart; the fingerprint is the frame-identity key a
    * video-dedup stage would bucket on, and it is integer-exact so an
    * external oracle reproduces it from the pixel function with no
    * codec. Undecodable payloads are skipped. Narrow map — no
    * shuffle. */
  /** Materialize the PNG fixtures as REAL files on disk — one
    * `<media_id>.png` per document under `<root>/<sfName>/png/` — and
    * return the directory. This is the ingestion shape of an actual
    * vision corpus: payloads living as objects in a store, not rows
    * already inside a table. Idempotent per (root, sf): a `_SUCCESS`
    * marker written after the last payload gates reuse, so repeated
    * runs in a session pay the write once (per-JVM memo keyed by sf
    * dir; the directory itself lives under the system temp root like
    * every other scratch sink in the engine). Files are written from
    * the executors (local-mode shared filesystem); at cluster scale
    * this fixture-build utility would target a distributed store and
    * the READ path ([[imageStatsFromFiles]]) is unchanged. */
  private val pngFixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def pngFileFixture(spark: SparkSession, sfDir: String): String =
    pngFixtureMemo.computeIfAbsent(sfDir, { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft_m10_png").toFile
      // fixture dirs hold thousands of files — reclaim them when the
      // session JVM exits rather than leaking them into /tmp
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
        }
        rm(dir)
      }
      val path = dir.getAbsolutePath
      pngFromDocuments(spark, sfDir).foreachPartition {
        (rows: Iterator[MediaRecord]) =>
          rows.foreach { r =>
            val f = new java.io.File(path, s"${r.media_id}.png")
            val out = new java.io.FileOutputStream(f)
            try out.write(r.media) finally out.close()
          }
      }
      new java.io.File(dir, "_SUCCESS").createNewFile()
      path
    })

  /** Decode image statistics from a DIRECTORY of real image files via
    * Spark's built-in `binaryFile` source — the production ingestion
    * path for vision corpora. The source yields (path, length,
    * content) rows with small files bin-packed into splits, so decode
    * parallelism comes from the file count (the cluster-scale
    * complement of [[spreadForCodec]], which covers generated/few-file
    * inputs). Ids are recovered from file names; undecodable payloads
    * are skipped (skip-entity policy). */
  def imageStatsFromFiles(spark: SparkSession, dir: String): Dataset[ImageStats] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (path, bytes) =>
          val name = path.substring(path.lastIndexOf('/') + 1)
          val id = name.stripSuffix(".png").toLong
          MediaCodec.decodeImage(bytes).map { case (w, h, sr, sg, sb) =>
            ImageStats(id, w, h, sr, sg, sb)
          }
        }
      }
  }

  def sampleGifFrames(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decodeGifFramePixels(r.media).toSeq.flatMap(
          _.zipWithIndex.collect {
            case ((w, h, rgb), i) if i % stride == 0 =>
              var fp = 0L
              var j = 0
              while (j < rgb.length) {
                fp = (fp * 31L + rgb(j)) % 2147483647L
                j += 1
              }
              (r.media_id, i.toLong, w, h, fp)
          })
      }
    }.toDF("media_id", "frame_idx", "width", "height", "pix_fp")
  }
}
