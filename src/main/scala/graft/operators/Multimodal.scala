package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines.
  *
  * Media is carried as an opaque `binary` column plus a typed metadata
  * struct — the layout Spark's own `binaryFile` source and the MLlib image
  * schema use. Decode / feature-extraction runs per partition over
  * Arrow-sized batches (`mapPartitions` with a bounded buffer), which is the
  * Scala analogue of `mapInPandas`: the executor streams batches, never
  * materializing a partition of decoded frames in memory.
  *
  * ALL THREE MODALITIES DECODE FOR REAL with zero native dependencies:
  * PNG/JPEG bytes are decoded to pixels with the JDK's `javax.imageio`
  * and pooled into luminance-strip features; WAV bytes are decoded to
  * PCM with `javax.sound.sampled` and pooled into windowed-RMS energy
  * envelopes; VIDEO is MJPEG-in-AVI — the RIFF container is demuxed by a
  * hand-rolled parser (the same no-external-libs approach as
  * `sources/Shapefile.scala`) and each frame is a real JPEG decoded by
  * `javax.imageio`; animated GIF is a second real container, demuxed
  * losslessly through `ImageReader`'s multi-image API. `decodeStub`
  * remains only for mimes with no codec.
  */
object Multimodal {

  // r20 (guide §1.2 per-task work): javax.imageio defaults to DISK-backed
  // stream caches — ImageIO.read(InputStream) wraps its source in a
  // FileCacheImageInputStream and ImageIO.write(OutputStream) in a
  // FileCacheImageOutputStream, i.e. every single decode AND encode
  // creates, writes, and deletes a java.io.tmpdir temp file. All media
  // here is in-memory byte arrays (parquet blob columns), so the file
  // cache buys nothing and at soak scale it turns the decode kernels
  // kernel-bound (~10^6 temp-file lifecycles for one sf10 resize pass —
  // profiled as ~85% system CPU time). Memory-cached streams produce
  // byte-identical codec output. JVM-static, set once when this object
  // loads (every codec call site lives in this object, so executor-side
  // object init precedes first use).
  javax.imageio.ImageIO.setUseCache(false)

  /** media metadata struct: mime, width, height, durationMs (audio/video). */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bytes", BinaryType),
    StructField("meta", mediaMetaType)))

  /** A real, deterministic PNG: gradient in red (x) and green (y) with an
    * id-dependent blue phase, encoded through `javax.imageio`. Every byte
    * is reproducible for a given (id, width, height), so fixture tests and
    * oracle projections stay stable. */
  def pngBytes(id: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = if (width <= 1) 0 else x * 255 / (width - 1)
        val g = if (height <= 1) 0 else y * 255 / (height - 1)
        val b = ((id * 37 + x + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val pngUdf = udf { (id: Long, w: Int, h: Int) => pngBytes(id, w, h) }

  /** Deterministic media table derived from a seed column — stands in for
    * `spark.read.format("binaryFile")` in this container. The bytes are a
    * REAL PNG per row (decodable by any codec), sized by the same formulas
    * the metadata advertises (16-64 px: enough to exercise a real encoder
    * and decoder without the fixture's deflate cost dominating a bench). */
  def syntheticMedia(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol).cast(LongType).as("media_id"))
    .withColumn("meta", struct(
      lit("image/png").as("mime"),
      (pmod(col("media_id"), lit(4)) * 16 + 16).cast(IntegerType).as("width"),
      (pmod(col("media_id"), lit(3)) * 16 + 16).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms")))
    .withColumn("bytes",
      pngUdf(col("media_id"), col("meta.width"), col("meta.height")))

  /** A real, deterministic WAV: 16-bit mono PCM of a two-harmonic tone
    * whose fundamental depends on the id, containered through
    * `javax.sound.sampled.AudioSystem.write`. StrictMath keeps the
    * synthesized samples bit-identical on any JVM/host; WAV is lossless,
    * so decode-side assertions can be EXACT, not tolerance-based. */
  def wavBytes(id: Long, sampleRate: Int = 8000, nSamples: Int = 1600): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    val freq = 220.0 + (id % 16) * 55.0
    var n = 0
    while (n < nSamples) {
      val t = n.toDouble / sampleRate
      val amp = (StrictMath.sin(2 * StrictMath.PI * freq * t) * 0.6 +
                 StrictMath.sin(2 * StrictMath.PI * freq * 2 * t) * 0.25) * 0.9
      val s = math.round(amp * Short.MaxValue).toShort
      pcm(2 * n) = (s & 0xFF).toByte // WAV PCM is little-endian
      pcm(2 * n + 1) = ((s >> 8) & 0xFF).toByte
      n += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val wavUdf = udf { (id: Long, n: Int) => wavBytes(id, nSamples = n) }

  /** Deterministic AUDIO media table (mime audio/wav, real WAV bytes per
    * row, duration advertised by the same formula the synthesis uses) —
    * the audio analogue of [[syntheticMedia]]. 0.1–0.3 s per row at 8 kHz:
    * real containers without the fixture dominating a bench. */
  def syntheticAudio(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol).cast(LongType).as("media_id"))
    .withColumn("_n_", (lit(800) + pmod(col("media_id"), lit(5)) * 400).cast(IntegerType))
    .withColumn("meta", struct(
      lit("audio/wav").as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      // integer div: Column./ is true division (double) and would change
      // the struct field's type away from the shared LongType meta schema
      expr("(cast(_n_ as bigint) * 1000) div 8000").as("duration_ms")))
    .withColumn("bytes", wavUdf(col("media_id"), col("_n_")))
    .drop("_n_")

  /** Real audio decode + pooling: `javax.sound.sampled` parses the
    * container (WAV in the JDK; any format with a registered SPI), frames
    * are mixed down to mono in [-1,1], and the RMS over `dim` equal time
    * windows forms the feature vector — the classic energy-envelope
    * descriptor. Returns null for null/undecodable/non-16-bit-PCM bytes
    * (same quarantine contract as [[decodeImageFeatures]]). */
  def decodeAudioFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    if (bytes == null) return null
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (ais == null) return null
    try {
      val fmt = ais.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          || fmt.getSampleSizeInBits != 16) return null
      val data = ais.readAllBytes()
      val channels = fmt.getChannels
      val bigEndian = fmt.isBigEndian
      val nFrames = data.length / (2 * channels)
      val out = new Array[Float](dim)
      if (nFrames == 0) return out
      val sums = new Array[Double](dim)
      val counts = new Array[Long](dim)
      var f = 0
      while (f < nFrames) {
        var c = 0
        var acc = 0.0
        while (c < channels) {
          val i = (f * channels + c) * 2
          val s =
            if (bigEndian) ((data(i) << 8) | (data(i + 1) & 0xFF)).toShort
            else ((data(i + 1) << 8) | (data(i) & 0xFF)).toShort
          acc += s / 32768.0
          c += 1
        }
        val v = acc / channels
        val w = math.min(f * dim / nFrames, dim - 1)
        sums(w) += v * v
        counts(w) += 1
        f += 1
      }
      var i = 0
      while (i < dim) {
        out(i) = if (counts(i) == 0) 0.0f
          else math.sqrt(sums(i) / counts(i)).toFloat
        i += 1
      }
      out
    } finally ais.close()
  }

  // ------------------------------------------------------------------ video

  // little-endian RIFF building blocks (AVI is RIFF, like WAV)
  private final class LeBuf {
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): this.type = { bos.write(s.getBytes("US-ASCII")); this }
    def u32(v: Int): this.type = {
      bos.write(v & 0xFF); bos.write((v >>> 8) & 0xFF)
      bos.write((v >>> 16) & 0xFF); bos.write((v >>> 24) & 0xFF); this
    }
    def u16(v: Int): this.type = { bos.write(v & 0xFF); bos.write((v >>> 8) & 0xFF); this }
    def raw(b: Array[Byte]): this.type = { bos.write(b, 0, b.length); this }
    def bytes: Array[Byte] = bos.toByteArray
  }
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val b = new LeBuf().ascii(id).u32(body.length).raw(body)
    if ((body.length & 1) == 1) b.bos.write(0) // chunks are word-aligned
    b.bytes
  }
  private def riffList(listType: String, parts: Array[Byte]*): Array[Byte] =
    riffChunk("LIST", parts.foldLeft(new LeBuf().ascii(listType))(_ raw _).bytes)

  /** Per-frame gray level for the synthetic video: consecutive frames
    * differ by 31 levels (mod 224), far above JPEG's solid-color roundtrip
    * error (~2 levels), so specs can verify the demuxer preserves FRAME
    * ORDER, not just frame count. */
  def videoFrameGray(id: Long, frame: Int): Int =
    16 + ((id * 29 + frame * 31) % 224).toInt

  /** A real, deterministic MJPEG-in-AVI video: `nFrames` solid-gray JPEG
    * frames (gray = [[videoFrameGray]]) inside a hand-written RIFF/AVI
    * container ('vids'/'MJPG' stream, standard avih/strh/strf headers —
    * any MJPEG-capable player demuxes it). JPEG is lossy, so decode
    * assertions are tolerance-based, unlike the lossless WAV fixture. */
  def aviBytes(id: Long, nFrames: Int, width: Int = 32, height: Int = 24,
               fps: Int = 4): Array[Byte] = {
    val jpegs = Array.tabulate(nFrames) { f =>
      val g = videoFrameGray(id, f)
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val avih = new LeBuf()
      .u32(1000000 / fps).u32(0).u32(0).u32(0) // usPerFrame, maxBps, pad, flags
      .u32(nFrames).u32(0).u32(1).u32(0)       // totalFrames, initial, streams, bufSize
      .u32(width).u32(height)
      .u32(0).u32(0).u32(0).u32(0)             // reserved
    val strh = new LeBuf()
      .ascii("vids").ascii("MJPG")
      .u32(0).u16(0).u16(0).u32(0)             // flags, priority, language, initial
      .u32(1).u32(fps).u32(0).u32(nFrames)     // scale, rate, start, length
      .u32(0).u32(-1).u32(0)                   // bufSize, quality, sampleSize
      .u16(0).u16(0).u16(width).u16(height)    // rcFrame
    val strf = new LeBuf()
      .u32(40).u32(width).u32(height)          // biSize, biWidth, biHeight
      .u16(1).u16(24).ascii("MJPG")            // planes, bitCount, compression
      .u32(width * height * 3).u32(0).u32(0).u32(0).u32(0)
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih.bytes),
      riffList("strl", riffChunk("strh", strh.bytes), riffChunk("strf", strf.bytes)))
    val movi = riffList("movi", jpegs.map(riffChunk("00dc", _)): _*)
    riffChunk("RIFF", new LeBuf().ascii("AVI ").raw(hdrl).raw(movi).bytes)
  }

  /** Real AVI demux: walk the RIFF chunk tree and return stream-0 video
    * frame payloads ('00dc'/'00db', in file order), recursing into 'movi'
    * and ffmpeg-style 'rec ' interleave lists and skipping everything else
    * (headers, other streams' audio chunks, idx1). Null for null, non-AVI,
    * or frameless input — the quarantine contract. */
  def demuxAviFrames(bytes: Array[Byte]): Array[Array[Byte]] = {
    if (bytes == null || bytes.length < 12) return null
    def fourcc(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def u32(off: Int): Long =
      (bytes(off) & 0xFFL) | ((bytes(off + 1) & 0xFFL) << 8) |
      ((bytes(off + 2) & 0xFFL) << 16) | ((bytes(off + 3) & 0xFFL) << 24)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return null
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = fourcc(off)
        val sz = u32(off + 4).toInt
        val body = off + 8
        if (sz < 0 || body + sz > end) return // truncated/corrupt: stop cleanly
        if (id == "LIST" && sz >= 4) {
          val lt = fourcc(body)
          if (lt == "movi" || lt == "rec ") walk(body + 4, body + sz)
        } else if (id == "00dc" || id == "00db") {
          frames += java.util.Arrays.copyOfRange(bytes, body, body + sz)
        }
        off = body + sz + (sz & 1)
      }
    }
    walk(12, math.min(bytes.length.toLong, 8 + u32(4)).toInt)
    if (frames.isEmpty) null else frames.toArray
  }

  private val aviUdf = udf { (id: Long, nf: Int) => aviBytes(id, nf) }

  /** Deterministic VIDEO media table (mime video/x-msvideo, real MJPEG-AVI
    * bytes per row, 4-6 frames at 4 fps) — the video analogue of
    * [[syntheticMedia]]/[[syntheticAudio]]. */
  def syntheticVideo(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol).cast(LongType).as("media_id"))
    .withColumn("_nf_", (lit(4) + pmod(col("media_id"), lit(3))).cast(IntegerType))
    .withColumn("meta", struct(
      lit("video/x-msvideo").as("mime"),
      lit(32).cast(IntegerType).as("width"),
      lit(24).cast(IntegerType).as("height"),
      (col("_nf_").cast(LongType) * 250).as("duration_ms"))) // 4 fps
    .withColumn("bytes", aviUdf(col("media_id"), col("_nf_")))
    .drop("_nf_")

  /** Real video decode for the whole-media feature path: demux the AVI,
    * decode the MIDDLE frame (a cheap representative-frame heuristic),
    * pool to luminance strips. Null when demux or decode fails. */
  def decodeVideoFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val frames = demuxAviFrames(bytes)
    if (frames == null) null
    else decodeImageFeatures(frames(frames.length / 2), dim)
  }

  // ------------------------------------------------------------- animated gif

  /** A real, deterministic ANIMATED GIF: `nFrames` solid-gray frames
    * (gray = [[videoFrameGray]] — the same per-frame formula as the AVI
    * fixture, so cross-container specs share one expectation) written
    * through the JDK's own GIF sequence writer with a per-frame
    * GraphicControlExtension (250 ms delay). Unlike MJPEG, GIF's indexed
    * palette is LOSSLESS for these frames, so decode assertions are
    * exact, not tolerance-based — the second fully-real container format
    * beside AVI. */
  def gifBytes(id: Long, nFrames: Int, width: Int = 32,
               height: Int = 24): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until nFrames).foreach { f =>
      val g = videoFrameGray(id, f)
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gr = img.createGraphics()
      gr.setColor(new java.awt.Color(g, g, g))
      gr.fillRect(0, 0, width, height)
      gr.dispose()
      val meta = writer.getDefaultImageMetadata(
        new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      val fmt = meta.getNativeMetadataFormatName // javax_imageio_gif_image_1.0
      val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = {
        val kids = root.getChildNodes
        val found = (0 until kids.getLength).map(kids.item)
          .find(_.getNodeName == "GraphicControlExtension")
        found.getOrElse {
          val n = new IIOMetadataNode("GraphicControlExtension")
          root.appendChild(n); n
        }.asInstanceOf[IIOMetadataNode]
      }
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", "25") // hundredths of a second
      gce.setAttribute("transparentColorIndex", "0")
      meta.setFromTree(fmt, root)
      writer.writeToSequence(new IIOImage(img, null, meta), null)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** Real GIF frame demux/decode: the JDK `ImageReader`'s multi-image API
    * (`getNumImages(true)` + `read(i)`) returns every stored frame's
    * raster. Frames come back AS STORED — compositing partial-rect frames
    * under GIF disposal modes is a presentation concern; the fixtures (and
    * normalized ML corpora) store full frames, which need none. Null for
    * null, non-GIF, or undecodable input — the quarantine contract. */
  def decodeGifFrames(bytes: Array[Byte]): Array[java.awt.image.BufferedImage] = {
    if (bytes == null) return null
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      if (!reader.getFormatName.equalsIgnoreCase("gif")) return null
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      if (n <= 0) null else Array.tabulate(n)(reader.read)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  private val gifUdf = udf { (id: Long, nf: Int) => gifBytes(id, nf) }

  /** Deterministic animated-GIF media table (mime image/gif, real bytes
    * per row, 4-6 frames at 4 fps) — the GIF analogue of
    * [[syntheticVideo]]. */
  def syntheticGif(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol).cast(LongType).as("media_id"))
    .withColumn("_nf_", (lit(4) + pmod(col("media_id"), lit(3))).cast(IntegerType))
    .withColumn("meta", struct(
      lit("image/gif").as("mime"),
      lit(32).cast(IntegerType).as("width"),
      lit(24).cast(IntegerType).as("height"),
      (col("_nf_").cast(LongType) * 250).as("duration_ms")))
    .withColumn("bytes", gifUdf(col("media_id"), col("_nf_")))
    .drop("_nf_")

  /** Real image decode + pooling: `javax.imageio` parses the container
    * bytes, then luminance means over `dim` vertical strips (strip s spans
    * columns [s·w/dim, (s+1)·w/dim)) form the feature vector — each value
    * in [0,1]. Returns null for null/undecodable bytes (a real pipeline
    * routes those to a quarantine sink rather than failing the job). */
  def decodeImageFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    if (bytes == null) return null
    val img =
      // NonFatal, not just IOException: ImageIO readers surface corrupt
      // chunk data as IllegalArgument/IndexOutOfBounds/NegativeArraySize
      // wrappers too, and the quarantine contract must hold for all of them
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    poolLuminance(img, dim)
  }

  /** Luminance-strip pooling over an already-decoded image — the shared
    * feature program of every image-bearing codec path (still images, AVI
    * frames, GIF frames). */
  private def poolLuminance(img: java.awt.image.BufferedImage,
                            dim: Int): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    // bulk getRGB: one array copy per image instead of w*h virtual calls —
    // the difference between the decoder and the accessor dominating
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = px(y * w + x)
        val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / (3.0 * 255.0)
        val s = math.min(x * dim / w, dim - 1)
        sums(s) += lum
        counts(s) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = if (counts(i) == 0) 0.0f else (sums(i) / counts(i)).toFloat
      i += 1
    }
    out
  }

  /** 64-bit average perceptual hash (aHash — public recipe): decode,
    * pool luminance onto an 8×8 grid, one bit per cell = cell mean ≥
    * the IMAGE mean. Survives re-encoding, resizing, and small edits —
    * the image-modality analogue of [[Dedup]]'s SimHash for text.
    *
    * INTEGER-EXACT (the mm05 resize discipline): luminance sums are
    * longs and the threshold compare is the cross-multiplied rational
    * `cell_sum · total_pixels ≥ total_sum · cell_pixels` — no float
    * division anywhere, so exact mean ties resolve deterministically
    * (≥ ⇒ bit set) and a SQL oracle replays every bit from the pixel
    * program (the products stay < 2⁶³ up to ~10⁹-pixel images). Using
    * the image mean instead of the mean of cell means changes nothing
    * when the grid divides the image evenly (the common case, and all
    * fixtures); for ragged grids it weights cells by their true pixel
    * count, which is at least as faithful a threshold. Undecodable
    * bytes quarantine to null. */
  def imageAHash(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return null
    val (w, h) = (img.getWidth, img.getHeight)
    if (w <= 0 || h <= 0) return null
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val rgb = px(y * w + x)
        val lum = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        val c = gy * 8 + math.min(x * 8 / w, 7)
        sums(c) += lum
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    val totalSum = sums.sum
    val totalCount = w.toLong * h
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0 && sums(i) * totalCount >= totalSum * counts(i))
        hash |= (1L << i)
      i += 1
    }
    hash
  }

  private val aHashUdf = udf { (b: Array[Byte]) => Option(imageAHash(b)).map(_.longValue) }

  /** Near-duplicate pairs over ANY 64-bit perceptual hash column by
    * hamming distance ≤ `maxHamming` — the shared pair engine of the
    * multimodal dedup lane ([[imageNearDupPairs]], [[audioNearDupPairs]]).
    * Runs [[PairJoin.hamming]], the pigeonhole block join of
    * [[Dedup.simHashPairs]]: ids+hashes only, media bytes never shuffle.
    * A block bucket over [[Guards.DegenerateBucketBound]] rows raises by
    * name. Output: (id_a, id_b, hamming), id_a < id_b. */
  def hashNearDupPairs(hashedIn: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int): DataFrame =
    PairJoin.hamming(hashedIn, idCol, hashCol, maxHamming,
      "hashNearDupPairs",
      "run exact dedup on the media bytes first to collapse identical " +
        "items (one hash value shared by every copy is the classic case)")

  /** Image near-duplicate pairs: [[imageAHash]] + [[hashNearDupPairs]]. */
  def imageNearDupPairs(media: DataFrame, idCol: String, bytesCol: String,
                        maxHamming: Int): DataFrame =
    // widen REVERTED (r20): A/B-measured a net loss here at every tried
    // width (the hash is light next to the blob exchange)
    hashNearDupPairs(
      media.select(col(idCol), aHashUdf(col(bytesCol)).as("_ah_")),
      idCol, "_ah_", maxHamming)

  /** 64-bit audio fingerprint: decode (real `javax.sound.sampled` WAV
    * path), mix to mono, one bit per autocorrelation lag 1..64 — bit =
    * the normalized autocorrelation at that lag is non-negative. Pitch-
    * selective (a tone's lag-sign pattern is its period signature) and
    * duration-tolerant (signs of full-signal sums barely move with
    * length), which is what makes it a fingerprint rather than a
    * checksum. Undecodable / non-16-bit-PCM bytes quarantine to null. */
  def audioFingerprint(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null) return null
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (ais == null) return null
    try {
      val fmt = ais.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          || fmt.getSampleSizeInBits != 16) return null
      val data = ais.readAllBytes()
      val channels = fmt.getChannels
      val bigEndian = fmt.isBigEndian
      val nFrames = data.length / (2 * channels)
      if (nFrames < 66) return null
      val mono = new Array[Double](nFrames)
      var f = 0
      while (f < nFrames) {
        var c = 0
        var acc = 0.0
        while (c < channels) {
          val i = (f * channels + c) * 2
          val s =
            if (bigEndian) ((data(i) << 8) | (data(i + 1) & 0xFF)).toShort
            else ((data(i + 1) << 8) | (data(i) & 0xFF)).toShort
          acc += s / 32768.0
          c += 1
        }
        mono(f) = acc / channels
        f += 1
      }
      var hash = 0L
      var lag = 1
      while (lag <= 64) {
        var t = 0
        var s = 0.0
        val end = nFrames - lag
        while (t < end) { s += mono(t) * mono(t + lag); t += 1 }
        if (s >= 0.0) hash |= (1L << (lag - 1))
        lag += 1
      }
      hash
    } finally ais.close()
  }

  private val audioFpUdf = udf { (b: Array[Byte]) =>
    Option(audioFingerprint(b)).map(_.longValue) }

  /** Audio near-duplicate pairs: [[audioFingerprint]] +
    * [[hashNearDupPairs]] — same-pitch recordings pair at small hamming
    * regardless of duration. */
  def audioNearDupPairs(media: DataFrame, idCol: String, bytesCol: String,
                        maxHamming: Int): DataFrame =
    // widen REVERTED (r20): see imageNearDupPairs — measured net loss
    hashNearDupPairs(
      media.select(col(idCol), audioFpUdf(col(bytesCol)).as("_af_")),
      idCol, "_af_", maxHamming)

  /** STUB decode for media without a JDK codec (video frames): bytes ->
    * deterministic pseudo-features. The signature, batching, and output
    * schema are what a real demuxer drops into. */
  private def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    if (bytes == null) return null
    val out = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      out(i % dim) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  /** Batched decode/feature-extract over the media table: the Scala
    * `mapInPandas` analogue. `batchSize` bounds executor memory exactly the
    * way Arrow batch size does. Image mimes decode REAL pixels through
    * `javax.imageio`; anything else falls back to the stub codec.
    * Output: (media_id, meta, features). */
  def extractFeatures(media: DataFrame, dim: Int = 16,
                      batchSize: Int = 256): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("meta", mediaMetaType),
      StructField("features", ArrayType(FloatType))))
    // widen REVERTED (r20, r19 verdict item 1): the r19 repartition here
    // made mm01 2.7x slower at 32 cores. The byte-bounded widenByBytes
    // was then A/B'd here too and measured FLAT (1.02 -> 1.07 s at
    // sf0.1): the pool-decode is too cheap per row to buy back even a
    // byte-sized exchange; it stays only in resizeImages, whose per-row
    // decode+resample+re-encode is an order of magnitude heavier.
    val rdd = media.select("media_id", "bytes", "meta")
      .rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch work area: a real decoder allocates its buffers here
        // once per batch, not per row
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]]("bytes")
          val meta = r.getAs[Row]("meta")
          val mime = if (meta == null) null else meta.getAs[String]("mime")
          val feats =
            if (mime != null && mime.startsWith("image/"))
              decodeImageFeatures(bytes, dim)
            else if (mime != null && mime.startsWith("audio/"))
              decodeAudioFeatures(bytes, dim)
            else if (mime != null && mime.startsWith("video/"))
              decodeVideoFeatures(bytes, dim)
            else decodeStub(bytes, dim)
          Row(r.getAs[Long]("media_id"), meta, feats)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Nearest-neighbor image resize — the normalize-before-training step
    * (every vision pipeline feeds fixed-dimension tensors). Decode is
    * REAL (`javax.imageio`), the resample is pure integer index math
    * (src pixel = (x·inW)/outW, (y·inH)/outH — floor division, so the
    * mapping is engine-exact and retry-stable), and the result
    * re-encodes as PNG through the JDK writer. Corrupt/null bytes
    * quarantine to null output columns (same contract as
    * [[extractFeatures]]). Batched mapPartitions; the oracle gates the
    * metadata projection (dims) and the pixel mapping is spec-asserted
    * against the synthetic gradient. */
  def resizeImages(media: DataFrame, outW: Int, outH: Int,
                   batchSize: Int = 256): DataFrame = {
    require(outW > 0 && outH > 0, "target dims must be positive")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("in_width", IntegerType),
      StructField("in_height", IntegerType),
      StructField("out_width", IntegerType),
      StructField("out_height", IntegerType),
      StructField("out_bytes", org.apache.spark.sql.types.BinaryType)))
    // r20: byte-bounded widen, the r19 verdict's prescribed form — width
    // = min(slots, ceil(inputBytes/4MB)), so the blob exchange is only as
    // wide as the bytes justify and a well-split production media table
    // (planned > 4 splits) is never re-shuffled. This is the one media
    // site where the per-row work (decode + resample + PNG re-encode)
    // dwarfs the exchange: A/B at sf0.1 measured 4.87 -> 1.90 s here and
    // flat-to-negative everywhere else (those sites keep the plain scan).
    val rdd = Parallelism.widenByBytes(
        media.select("media_id", "bytes"), col("media_id"))
      .rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val bytes = r.getAs[Array[Byte]]("bytes")
          val img =
            if (bytes == null) null
            else try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) Row(r.getAs[Long]("media_id"), null, null, null, null, null)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val out = new java.awt.image.BufferedImage(outW, outH,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            val opx = new Array[Int](outW * outH)
            var y = 0
            while (y < outH) {
              val sy = y * h / outH
              var x = 0
              while (x < outW) {
                opx(y * outW + x) = px(sy * w + x * w / outW)
                x += 1
              }
              y += 1
            }
            out.setRGB(0, 0, outW, outH, opx, 0, outW)
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Row(r.getAs[Long]("media_id"), w, h, outW, outH, bos.toByteArray)
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling: emit `nFrames` rows per media row (frame_index,
    * total container frames, per-frame features) — the explode-shaped
    * output of a frame sampler. For video mimes this is REAL: the AVI
    * is demuxed ([[demuxAviFrames]]), `nFrames` frames are sampled
    * uniformly across the container (frame k reads source frame
    * ⌊k·total/nFrames⌋), and each sampled frame's JPEG decodes through
    * `javax.imageio`. Animated GIF (mime image/gif) is equally REAL via
    * [[decodeGifFrames]], same uniform sampling, and lossless — exact
    * gray assertions instead of JPEG tolerances. Other mimes keep the
    * stub byte-slice codec (n_frames_total = null marks the output as
    * stub-derived). */
  def sampleFrames(media: DataFrame, nFrames: Int = 4, dim: Int = 8): DataFrame = {
    val frameUdf = udf { (mime: String, bytes: Array[Byte]) =>
      if (bytes == null) Seq.empty[(Int, Option[Int], Seq[Float])]
      else if (mime != null && mime.startsWith("video/")) {
        val all = demuxAviFrames(bytes)
        if (all == null) Seq.empty[(Int, Option[Int], Seq[Float])] // quarantine
        else (0 until nFrames).map { k =>
          val feats = decodeImageFeatures(all(k * all.length / nFrames), dim)
          (k, Some(all.length), if (feats == null) null else feats.toSeq)
        }
      } else if (mime == "image/gif") {
        // animated GIF: equally real — decoded frames, uniform sampling
        val all = decodeGifFrames(bytes)
        if (all == null) Seq.empty[(Int, Option[Int], Seq[Float])] // quarantine
        else (0 until nFrames).map { k =>
          (k, Some(all.length),
            poolLuminance(all(k * all.length / nFrames), dim).toSeq)
        }
      } else (0 until nFrames).map { f =>
        val slice = bytes.slice(f * 8, f * 8 + 64)
        (f, None: Option[Int], decodeStub(slice, dim).toSeq)
      }
    }
    // widen REVERTED (r20): A/B-measured a net loss here (frame counts
    // are capped upstream; the demux work doesn't amortize an exchange)
    media.select(col("media_id"), col("meta.mime").as("_mime_"),
        col("bytes"))
      .select(col("media_id"),
        explode(frameUdf(col("_mime_"), col("bytes"))).as("frame"))
      .select(col("media_id"), col("frame._1").as("frame_index"),
        col("frame._2").as("n_frames_total"),
        col("frame._3").as("features"))
  }
}
