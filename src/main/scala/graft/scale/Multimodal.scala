package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns plus a typed metadata struct; decode /
  * feature-extraction runs per-partition over iterator batches (the Scala
  * analog of `mapInPandas` — rows stream through without materializing a
  * partition in memory). Image decode/resize/feature-extraction
  * ([[decodeImage]], [[resizeImage]], [[imageHistogram]]) and WAV audio
  * decode ([[decodeWav]]) are REAL codecs on the JRE's own `javax.imageio` /
  * `javax.sound.sampled` (PNG/JPEG/GIF/BMP + PCM WAVE) — no external libs.
  *
  * Video: the JRE ships no video codec, so frame EXTRACTION is
  * bring-your-own (an upstream ffmpeg pass, or [[decodeFrames]] for
  * multi-frame image containers like animated GIF); once frames exist as
  * rows, [[frameStats]] rolls them up to per-asset video analytics — the
  * decode-heavy stages stay the same streaming per-partition shape either
  * way.
  */
object Multimodal {

  /** Canonical schema for a multimodal asset table. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Wrap a text table as fake binary assets (UTF-8 payloads) — used by
    * tests and the oracle query so the binary plumbing runs on real rows
    * without synthesizing data.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("asset_id"),
      lit("image").as("media_type"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(lit("documents").as("source"), lit("application/octet-stream").as("mime"),
        octet_length(col(textCol)).cast(LongType).as("n_bytes")).as("meta"))

  /** Frame/sample selection for video/audio-like payloads: pick every
    * `stride`-th byte offset as a "frame" — the partitioning and explode
    * shape of real frame sampling, with the codec stubbed.
    */
  def frameSample(assets: DataFrame, stride: Int): DataFrame =
    assets.select(col("asset_id"),
      posexplode(sequence(lit(0), greatest(col("meta.n_bytes").cast("int") - 1, lit(0)),
        lit(stride))).as(Seq("frame_idx", "byte_offset")))

  final case class ResizedMeta(asset_id: Long, width: Int, height: Int,
                               payload: Array[Byte])

  /** Per-asset video analytics over a PRE-EXTRACTED frames table
    * (asset_id, frame_index, width, height, mean_lum — [[decodeFrames]]'s
    * shape, or rows from an upstream ffmpeg extraction; filter `ok` frames
    * first): frame count, dimensions, luminance mean/std, and cut count
    * (frame-ordered luminance jumps greater than `cutThreshold`, the
    * classic hard-cut detector).
    *
    * Scale shape: one window partitioned BY ASSET (bounded by a single
    * video's frame count — thousands, never corpus-sized, unlike the
    * corpus-wide keys `Scan.keyedRank` exists for) for the frame-to-frame
    * luminance delta, then one hash aggregate per asset. No collects, no
    * global sort.
    */
  def frameStats(frames: DataFrame, cutThreshold: Double = 32.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("frame_index")
    frames
      .withColumn("__dlum", abs(col("mean_lum") - lag("mean_lum", 1).over(w)))
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_frames"),
        max("width").as("width"), max("height").as("height"),
        avg("mean_lum").as("lum_mean"),
        stddev_pop("mean_lum").as("lum_std"),
        sum(when(col("__dlum") > cutThreshold, 1L).otherwise(0L)).as("n_cuts"))
  }

  // ---- real image codec (javax.imageio — in the JRE, headless-safe) ------

  final case class ImageMeta(
      asset_id: Long, ok: Boolean, width: Long, height: Long, channels: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, n_bytes: Long)

  /** ImageIO's default stream cache writes a TEMP FILE per read/write —
    * per-image disk I/O an executor decoding millions of in-memory payloads
    * must not pay. Flip the JVM-wide flag once per executor, lazily.
    */
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** The cached-writer path is byte-identical to `ImageIO.write` ONLY
    * under the stock JRE provider set: `ImageIO.write` selects a writer by
    * ImageTypeSpecifier, while this cache takes the FIRST registered
    * writer for the format name. A third-party ImageIO plugin on the
    * classpath (e.g. TwelveMonkeys) would silently change encoded bytes or
    * pick a writer unable to encode the frame type — so the cache holds a
    * writer only when its provider is the JRE one (`com.sun.imageio.*`);
    * callers fall back to the per-call registry path otherwise. */
  private def jreWriter(format: String): Option[javax.imageio.ImageWriter] = {
    val it = javax.imageio.ImageIO.getImageWritersByFormatName(format)
    if (!it.hasNext) None
    else {
      val w = it.next()
      val prov = w.getOriginatingProvider
      if (prov != null &&
          prov.getClass.getName.startsWith("com.sun.imageio.")) Some(w)
      else None
    }
  }
  /** Per-thread cached ImageIO WRITERS (the q79 provider-registry lesson,
    * applied after measuring the image path — 32 threads ×
    * 1500 assets): the per-record `getImageWritersByFormatName` lookup +
    * writer construction costs 1.7× wall / 3.3× CPU at q78's asset sizes
    * (encode per-record 0.31 s / 6.1 s CPU vs reuse 0.18 s / 1.8 s CPU),
    * while READER reuse buys nothing (identical 0.25 s wall either way —
    * decode is pixel-work-bound at 58% CPU fraction, not lock-bound like
    * the audio registry's 4%), so [[readImage]]/[[decodeFrames]] keep the
    * per-record lookup. A thread-local is the per-partition-reuse idiom
    * that also survives task boundaries on a reused executor thread; the
    * writer is reset() after each asset so no state crosses records. */
  private val pngWriterTL: ThreadLocal[Option[javax.imageio.ImageWriter]] =
    ThreadLocal.withInitial(() => jreWriter("png"))
  private val gifWriterTL: ThreadLocal[Option[javax.imageio.ImageWriter]] =
    ThreadLocal.withInitial(() => jreWriter("gif"))

  /** Encode one frame as PNG via the cached writer — byte-identical to
    * `ImageIO.write(img, "png", out)` (same first registered provider,
    * same default write param). */
  private def writePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    imageIoNoDiskCache
    pngWriterTL.get() match {
      case Some(w) =>
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try { w.setOutput(ios); w.write(img) }
        finally { w.reset(); ios.close() } // close flushes the memory cache
        bos.toByteArray
      case None => // non-JRE provider set: type-aware selection, no reuse
        val bos = new java.io.ByteArrayOutputStream()
        // ImageIO.write returns false when NO registered writer accepts
        // the image — silently returning the empty buffer would encode
        // zero-byte "frames"; fail loudly instead (the JRE-writer branch
        // throws from w.write in the same situation)
        if (!javax.imageio.ImageIO.write(img, "png", bos))
          throw new javax.imageio.IIOException(
            s"no registered PNG writer accepts image type ${img.getType}")
        bos.toByteArray
    }
  }

  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoNoDiskCache
    if (bytes == null || bytes.isEmpty) null
    else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: Exception => null } // corrupt payloads decode to ok=false
  }

  /** REAL image decode: dimensions, component count and per-channel pixel
    * means via `javax.imageio` (PNG/JPEG/GIF/BMP). Undecodable payloads
    * yield `ok = false` rows instead of failing the job — at corpus scale
    * some fraction of payloads is always corrupt, and one bad byte stream
    * must not kill a 10^9-row decode stage. Streams per-partition (the
    * `mapInPandas` shape): no partition is materialized, executors decode in
    * parallel, and the scan before this carries only (asset_id, payload).
    */
  def decodeImage(df: DataFrame): Dataset[ImageMeta] = {
    implicit val enc = Encoders.product[ImageMeta]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        val img = readImage(bytes)
        if (img == null) ImageMeta(id, ok = false, 0L, 0L, 0, 0, 0, 0, bytes.length.toLong)
        else {
          // bulk getRGB: the per-pixel accessor routes every call through
          // getDataElements, which ALLOCATES a transfer array per pixel on
          // indexed/byte rasters — at corpus scale the decode stage spent
          // more wall in GC than pixels (q78 100× probe: 40% CPU fraction).
          // The bulk call converts the whole frame through one reused
          // buffer; the ARGB ints (and so the sums) are identical.
          val w = img.getWidth; val h = img.getHeight
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < px.length) {
            val rgb = px(i)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            i += 1
          }
          val n = w.toLong * h
          ImageMeta(id, ok = true, w.toLong, h.toLong,
            img.getColorModel.getNumComponents,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, bytes.length.toLong)
        }
      }
    }
  }

  /** REAL resize: decode, redraw at (w, h) through a `Graphics2D` (default
    * nearest-neighbor interpolation — deterministic), re-encode as PNG.
    * Undecodable payloads pass through as `width = height = 0` with an empty
    * payload. Same streaming per-partition shape as [[decodeImage]].
    */
  def resizeImage(df: DataFrame, w: Int, h: Int): Dataset[ResizedMeta] = {
    implicit val enc = Encoders.product[ResizedMeta]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        val img = readImage(bytes)
        if (img == null) ResizedMeta(row.getLong(0), 0, 0, Array.emptyByteArray)
        else {
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
          ResizedMeta(row.getLong(0), w, h, writePng(out))
        }
      }
    }
  }

  /** REAL feature extraction: L2-normalized grayscale histogram over `dim`
    * bins — a deterministic pixel-content embedding whose schema
    * (`array<float>`) feeds the Ann operators directly, so the image →
    * similarity-search pipeline runs end-to-end on real decoded pixels.
    */
  def imageHistogram(df: DataFrame, dim: Int): Dataset[ExtractedFeatures] = {
    implicit val enc = Encoders.product[ExtractedFeatures]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        val img = readImage(bytes)
        val acc = new Array[Float](dim)
        if (img != null) {
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val gray = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              acc(gray * dim / 256) += 1.0f
              x += 1
            }
            y += 1
          }
        }
        val norm = math.sqrt(acc.map(v => v.toDouble * v).sum).toFloat
        ExtractedFeatures(row.getLong(0), if (norm > 0) acc.map(_ / norm) else acc)
      }
    }
  }

  /** Deterministic synthetic PNG (w×h, constant RGB fill) — the fixture
    * generator for specs and the oracle query: PNG is lossless, so decode
    * recovers the exact dimensions and channel constants.
    */
  def syntheticPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    imageIoNoDiskCache
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    try {
      gfx.setColor(new java.awt.Color(r & 0xff, g & 0xff, b & 0xff))
      gfx.fillRect(0, 0, w, h)
    } finally gfx.dispose()
    writePng(img)
  }

  /** Render a documents-style table as real PNG assets with dimensions and
    * fill derived deterministically from (id, byte length): the decode
    * roundtrip is then oracle-checkable from the source columns alone.
    */
  def imagesFromDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = df.select(col(idCol).cast(LongType).as("asset_id"),
      octet_length(col(textCol)).cast(LongType).as("__len"))
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    src.map { row =>
      val id = row.getLong(0); val len = row.getLong(1)
      val w = (1 + len % 40).toInt; val h = (1 + id % 30).toInt
      (id, syntheticPng(w, h, (id % 256).toInt, (id * 7 % 256).toInt,
        (len % 256).toInt))
    }.toDF("asset_id", "payload")
      .select(col("asset_id"), lit("image").as("media_type"), col("payload"),
        struct(lit("documents").as("source"), lit("image/png").as("mime"),
          octet_length(col("payload")).cast(LongType).as("n_bytes")).as("meta"))
  }

  // ---- real multi-frame codec (animated GIF — the video-shaped path) -----

  final case class FrameMeta(
      asset_id: Long, frame_index: Int, ok: Boolean,
      width: Int, height: Int, mean_lum: Double)

  /** REAL frame extraction from multi-frame payloads — animated GIF, the
    * one multi-frame container the JRE decodes natively (general video
    * codecs aren't in the JRE; this is the honest end of the format list).
    * Every `stride`-th frame decodes to dimensions + mean luminance
    * ((r+g+b)/3 over all pixels). One output row per sampled frame;
    * undecodable payloads degrade to a single `ok = false` row. Streaming
    * per-partition shape, one reader per asset — frame sampling never
    * materializes the unsampled frames' pixel data beyond the reader's own
    * buffer.
    */
  def decodeFrames(df: DataFrame, stride: Int): Dataset[FrameMeta] = {
    require(stride >= 1, "frame stride must be >= 1")
    implicit val enc = Encoders.product[FrameMeta]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      imageIoNoDiskCache
      it.flatMap { row =>
        val id = row.getLong(0)
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) {
            iis.close()
            Seq(FrameMeta(id, -1, ok = false, 0, 0, 0.0))
          } else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n by stride).map { i =>
                val img = reader.read(i)
                // bulk getRGB — see [[decodeImage]]'s allocation note
                val w = img.getWidth; val h = img.getHeight
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                var s = 0L
                var j = 0
                while (j < px.length) {
                  val rgb = px(j)
                  s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  j += 1
                }
                val np = w.toLong * h
                FrameMeta(id, i, ok = true, w, h, s.toDouble / (3.0 * np))
              }
            } finally { reader.dispose(); iis.close() }
          }
        } catch {
          case _: Exception => Seq(FrameMeta(id, -1, ok = false, 0, 0, 0.0))
        }
      }
    }
  }

  /** Deterministic synthetic animated GIF: one constant-gray full frame per
    * value in `frameVals`. GIF palettizes per frame, and a one-color frame's
    * palette holds that exact color — so decode recovers each frame's gray
    * level exactly (same lossless-roundtrip trick as [[syntheticPng]]).
    */
  def syntheticGif(w: Int, h: Int, frameVals: Seq[Int]): Array[Byte] = {
    imageIoNoDiskCache
    // cached per thread (see pngWriterTL note); a non-JRE provider set
    // falls back to a fresh per-call writer — same bytes as pre-cache
    val (writer, cached) = gifWriterTL.get() match {
      case Some(w) => (w, true)
      case None =>
        (javax.imageio.ImageIO.getImageWritersByFormatName("gif").next(), false)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameVals.foreach { v0 =>
        val v = v0 & 0xff
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val gfx = img.createGraphics()
        try {
          gfx.setColor(new java.awt.Color(v, v, v))
          gfx.fillRect(0, 0, w, h)
        } finally gfx.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      if (cached) writer.reset() else writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Render a documents-style table as real animated-GIF assets whose frame
    * count, dimensions and per-frame gray levels derive from (id, byte
    * length) — the multi-frame analog of [[imagesFromDocs]], fully
    * oracle-checkable from the source columns.
    */
  def gifsFromDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = df.select(col(idCol).cast(LongType).as("asset_id"),
      octet_length(col(textCol)).cast(LongType).as("__len"))
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    src.map { row =>
      val id = row.getLong(0); val len = row.getLong(1)
      val w = (4 + len % 16).toInt; val h = (3 + id % 12).toInt
      val frames = (2 + id % 5).toInt
      (id, syntheticGif(w, h,
        (0 until frames).map(i => ((id * 31 + i * 40) % 256).toInt)))
    }.toDF("asset_id", "payload")
      .select(col("asset_id"), lit("video").as("media_type"), col("payload"),
        struct(lit("documents").as("source"), lit("image/gif").as("mime"),
          octet_length(col("payload")).cast(LongType).as("n_bytes")).as("meta"))
  }

  // ---- real WAV audio codec (javax.sound.sampled — in the JRE) -----------

  final case class AudioMeta(
      asset_id: Long, ok: Boolean, sample_rate: Int, channels: Int,
      frames: Long, duration_ms: Long, n_bytes: Long)

  /** Deterministic synthetic PCM16 WAVE (silence — decode reads the format
    * header and frame count, which is what the roundtrip checks).
    *
    * Writes the canonical 44-byte RIFF/fmt/data header + zero PCM directly
    * — byte-identical to what `AudioSystem.write` emits for integer PCM
    * (MultimodalSpec cross-reads the output with AudioSystem), but without
    * going through the JRE's provider registry: `AudioSystem.write`
    * serializes ALL callers on the same registry lock that made decode
    * lock-bound at 100× asset count, and fixture synthesis sits on the
    * same hot path in the wav queries.
    */
  def syntheticWav(rate: Int, channels: Int, frames: Int): Array[Byte] = {
    val dataBytes = frames * channels * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * 2
    b.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(36 + dataBytes)                     // RIFF payload size
    b.put("WAVE".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.put("fmt ".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(16)                                 // PCM fmt chunk length
    b.putShort(1)                                // audio format: PCM
    b.putShort(channels.toShort)
    b.putInt(rate)
    b.putInt(rate * blockAlign)                  // byte rate
    b.putShort(blockAlign.toShort)
    b.putShort(16)                               // bits per sample
    b.put("data".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(dataBytes)
    b.array()                                    // rest is zeros = silence
  }

  /** Render a documents-style table as real WAVE assets with rate/channels/
    * frame count derived from (id, byte length) — oracle-checkable from the
    * source columns, like [[imagesFromDocs]]/[[gifsFromDocs]].
    */
  def wavsFromDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val src = df.select(col(idCol).cast(LongType).as("asset_id"),
      octet_length(col(textCol)).cast(LongType).as("__len"))
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    src.map { row =>
      val id = row.getLong(0); val len = row.getLong(1)
      (id, syntheticWav(8000 * (1 + id % 3).toInt, 1 + (id % 2).toInt,
        (100 + len % 400).toInt))
    }.toDF("asset_id", "payload")
      .select(col("asset_id"), lit("audio").as("media_type"), col("payload"),
        struct(lit("documents").as("source"), lit("audio/wav").as("mime"),
          octet_length(col("payload")).cast(LongType).as("n_bytes")).as("meta"))
  }

  /** Direct RIFF/WAVE header parse for PCM files: (sampleRate, channels,
    * frames). Exists because `AudioSystem.getAudioInputStream` serializes
    * all callers on the JRE's provider-registry lock — profiled at 100×
    * asset count, 32 decode threads spent 96% of task time blocked on it
    * (3,434 s run / 128 s CPU), making the busiest multimodal stage
    * lock-bound rather than work-bound. The header fields this operator
    * publishes need no codec: RIFF chunk walk, `fmt ` → rate/channels/
    * block-align, `data` → frames = bytes / blockAlign (the same value
    * `getFrameLength` reports for PCM). Chunk sizes are validated against
    * the buffer; anything malformed falls back to the JRE path below.
    */
  private def parseWavHeader(b: Array[Byte]): Option[(Int, Int, Long)] = {
    def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int) = ((b(o) & 0xff).toLong | ((b(o + 1) & 0xff).toLong << 8) |
      ((b(o + 2) & 0xff).toLong << 16) | ((b(o + 3) & 0xff).toLong << 24))
    def tag(o: Int) = new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, blockAlign)
    var dataBytes = -1L
    while (off + 8 <= b.length && (fmt.isEmpty || dataBytes < 0)) {
      val id = tag(off); val sz = u32(off + 4)
      // a complete payload can't hold a chunk longer than itself; rejecting
      // here (→ JRE fallback) also keeps the Int offset arithmetic safe
      if (sz < 0 || sz > b.length) return None
      if (id == "fmt " && off + 8 + 16 <= b.length) {
        // a PCM fmt chunk is at least 16 bytes; a shorter declared size
        // means the fields below would be read from the NEXT chunk's bytes
        if (sz < 16) return None
        val codec = u16(off + 8)
        if (codec != 1) return None // non-PCM: let the JRE providers try
        val ch = u16(off + 10); val rate = u32(off + 12).toInt
        val ba = u16(off + 20); val bits = u16(off + 22)
        // internal consistency AudioSystem also enforces for PCM
        if (bits % 8 != 0 || ba != ch * (bits / 8)) return None
        fmt = Some((ch, rate, ba))
      } else if (id == "data") {
        // size may legitimately exceed the buffer only in streamed files;
        // these payloads are complete, so clamp-and-reject keeps parity
        // with AudioSystem, which fails on truncated data chunks
        if (off + 8 + sz > b.length) return None
        dataBytes = sz
      }
      off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    for ((ch, rate, ba) <- fmt; if dataBytes >= 0 && ba > 0 && rate > 0 && ch > 0)
      yield (rate, ch, dataBytes / ba)
  }

  /** REAL WAV decode: sample rate, channel count, frame count and duration.
    * PCM WAVE headers are parsed directly (see [[parseWavHeader]] — the
    * `javax.sound.sampled` entry point serializes threads on a global
    * provider lock); anything the parser declines goes through
    * `AudioSystem` so exotic-but-readable files keep decoding. Undecodable
    * payloads yield `ok = false` rows. Same per-partition streaming shape
    * as the image path.
    */
  def decodeWav(df: DataFrame): Dataset[AudioMeta] = {
    implicit val enc = Encoders.product[AudioMeta]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { row =>
        val id = row.getLong(0)
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        parseWavHeader(bytes) match {
          case Some((rate, ch, frames)) =>
            AudioMeta(id, ok = true, rate, ch, frames,
              frames * 1000L / math.max(rate.toLong, 1L), bytes.length.toLong)
          case None => try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            try {
              val f = ais.getFormat
              val frames = ais.getFrameLength
              AudioMeta(id, ok = true, f.getSampleRate.toInt, f.getChannels,
                frames, frames * 1000L / math.max(f.getSampleRate.toLong, 1L),
                bytes.length.toLong)
            } finally ais.close()
          } catch {
            case _: Exception =>
              AudioMeta(id, ok = false, 0, 0, 0L, 0L, bytes.length.toLong)
          }
        }
      }
    }
  }

  /** Deterministic synthetic PCM WAVE fixture: `frames` frames of silence at
    * `sampleRate` Hz, 16-bit mono.
    */
  def syntheticWav(sampleRate: Int, frames: Int): Array[Byte] =
    syntheticWav(sampleRate, 1, frames)

  final case class ExtractedFeatures(asset_id: Long, embedding: Array[Float])

  /** STUB feature extraction: deterministic fake embedding derived from the
    * payload bytes (rolling byte sums per dimension, L2-normalized) — the
    * schema (`array<float>`) and batch shape feed directly into the Ann
    * operators, so the multimodal → similarity-search pipeline runs
    * end-to-end without the real encoder.
    */
  def extractFeaturesStub(df: DataFrame, dim: Int): Dataset[ExtractedFeatures] = {
    implicit val enc = Encoders.product[ExtractedFeatures]
    df.select(col("asset_id"), col("payload")).mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.isNullAt(1)) Array.emptyByteArray
                    else row.getAs[Array[Byte]](1)
        val acc = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) {
          acc(i % dim) += (bytes(i) & 0xff) / 255.0f
          i += 1
        }
        val norm = math.sqrt(acc.map(x => x * x).sum).toFloat
        val emb = if (norm > 0) acc.map(_ / norm) else acc
        ExtractedFeatures(row.getLong(0), emb)
      }
    }
  }
}
