package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata extracted by batched partition-wise decoders.
  *
  * Image formats the JDK ships codecs for (PNG, GIF, BMP, JPEG via
  * `javax.imageio`) are decoded FOR REAL — magic-byte sniff, then
  * `ImageIO.read` for dimensions and per-channel pixel statistics; the
  * `m_media_meta` / `m_image_stats` driver gates hash-check real decoded
  * values against closed-form oracles over generated PNG fixtures. Audio
  * formats the JDK ships parsers for (WAV/AIFF/AU via
  * `javax.sound.sampled`) are ALSO decoded for real — [[audioStats]]
  * reads the container header and every PCM sample through
  * `AudioSystem`, hash-gated (`m_audio_stats`) against a sawtooth
  * fixture's per-sample oracle. Formats the JDK lacks (video containers,
  * compressed audio) fall back to [[StubDecoder]], a deterministic
  * byte-derived fake — swapping it for a JNI/FFmpeg decoder changes
  * nothing upstream: schema, partition-wise batching and column pruning
  * (only blob + id reach the decoder) are the real, format-independent
  * machinery.
  */
object Multimodal {

  final case class MediaMeta(
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      format: String)

  /** Magic-byte container sniff for the formats `javax.imageio` decodes.
    * (A real pipeline would extend this table per codec library.)
    */
  def sniffImageFormat(bytes: Array[Byte]): Option[String] = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G')
      Some("png")
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8')
      Some("gif")
    else if (at(0) == 'B' && at(1) == 'M') Some("bmp")
    else if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) Some("jpeg")
    else None
  }

  /** The non-image decode stub: deterministic metadata derived from the
    * raw bytes. A real implementation would parse the container here.
    */
  object StubDecoder {
    def decode(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length.toLong
      MediaMeta(
        n_bytes = n,
        width = (n % 640L).toInt + 16,
        height = ((n * 7L) % 480L).toInt + 16,
        n_frames = (n % 24L).toInt + 1,
        format = if (n % 2L == 0L) "even" else "odd")
    }
  }

  /** `ImageIO.read` over a memory-backed stream. Every ImageIO stream here
    * is a `MemoryCache*` one: the `InputStream`/`OutputStream` overloads
    * go through `ImageIO`'s stream factories, which by default spool each
    * blob through a temp FILE (one create+write+delete per row). Building
    * the stream per call keeps that off without flipping the JVM-global
    * `ImageIO.setUseCache`. `read` closes the stream once a reader took
    * it; with no reader it returns null and leaves the close to us.
    */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val img = ImageIO.read(iis)
    if (img == null) iis.close()
    img
  }

  /** Real JDK decode: dimensions from `ImageIO.read`; GIF frame count from
    * the format reader (the one JDK still format with multi-frame
    * support). Undecodable bytes that sniffed as an image classify as
    * `<fmt>-corrupt` rather than silently falling back — corrupt media
    * must be visible to curation filters downstream.
    */
  private def decodeImage(bytes: Array[Byte], fmt: String): MediaMeta = {
    try {
      if (fmt == "gif") {
        val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) return MediaMeta(bytes.length.toLong, 0, 0, 0, "gif-corrupt")
          val reader = readers.next()
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          val meta = MediaMeta(
            bytes.length.toLong, reader.getWidth(0), reader.getHeight(0), n, fmt)
          reader.dispose()
          meta
        } finally iis.close()
      } else {
        val img = readImage(bytes)
        if (img == null) MediaMeta(bytes.length.toLong, 0, 0, 0, s"$fmt-corrupt")
        else MediaMeta(bytes.length.toLong, img.getWidth, img.getHeight, 1, fmt)
      }
    } catch {
      case _: Exception => MediaMeta(bytes.length.toLong, 0, 0, 0, s"$fmt-corrupt")
    }
  }

  private def decodeAny(bytes: Array[Byte]): MediaMeta =
    sniffImageFormat(bytes) match {
      case Some(fmt) => decodeImage(bytes, fmt)
      case None => StubDecoder.decode(bytes)
    }

  private val metaSchema = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Decode metadata for each row's blob column, partition-wise (the Scala
    * analog of a `mapInPandas` batch UDF: one decoder instance per
    * partition, rows streamed through it). Output = `idCol` + metadata
    * columns. Sniffed image formats decode through `javax.imageio`
    * (REAL dimensions/frames); anything else takes the stub path.
    */
  def extractMeta(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) ++ metaSchema.fields)
    pruned.mapPartitions { rows =>
      // per-partition decoder init happens here (ImageIO readers are
      // looked up per call; the registry scan is JVM-wide and warm)
      rows.map { r =>
        val meta = decodeAny(r.getAs[Array[Byte]](1))
        Row(
          r.get(0),
          meta.n_bytes,
          meta.width,
          meta.height,
          meta.n_frames,
          meta.format)
      }
    }(Encoders.row(outSchema))
  }

  private val statsSchema = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  /** Per-channel integer pixel statistics from a REAL `ImageIO` decode —
    * the all-integers projection that lets a relational oracle replay the
    * decode of a generated fixture in closed form (the `m_image_stats`
    * gate). Non-image or corrupt blobs emit zero dims/sums with the
    * sniffed-or-`raw` format tag; lossless formats (png/bmp/gif) carry
    * exact sums, jpeg is lossy so only its dimensions are oracle-stable.
    */
  def imageStats(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) ++ statsSchema.fields)
    pruned.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val fmt = sniffImageFormat(bytes)
        val img = fmt.flatMap { _ =>
          try Option(readImage(bytes))
          catch { case _: Exception => None }
        }
        img match {
          case Some(im) =>
            val (w, h) = (im.getWidth, im.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = im.getRGB(x, y)
                sr += (rgb >> 16) & 0xff
                sg += (rgb >> 8) & 0xff
                sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            Row(r.get(0), fmt.get, w, h, w.toLong * h, sr, sg, sb)
          case None =>
            Row(r.get(0), fmt.getOrElse("raw"), 0, 0, 0L, 0L, 0L, 0L)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic PNG fixture: a `w`x`h` RGB image whose pixel `(x, y)`
    * is `((r0+x)%256, (g0+y)%256, b0)` — a gradient, so a passing gate
    * proves PER-PIXEL decode, not just header parsing. Channel sums have
    * the closed form the DuckDB oracle replays:
    * `sum_r = h*(w*r0 + w*(w-1)/2 - 256*GREATEST(0, r0+w-256))` (and
    * symmetrically for g over y; `sum_b = w*h*b0`).
    */
  def pngFixture(w: Int, h: Int, r0: Int, g0: Int, b0: Int): Array[Byte] = {
    require(w > 0 && h > 0, "fixture needs positive dimensions")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((r0 + x) % 256) << 16) | (((g0 + y) % 256) << 8) | b0)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    try ImageIO.write(img, "png", ios) finally ios.close()
    bos.toByteArray
  }

  /** Stage a deterministic PNG blob per row from integer columns — the
    * fixture generator the media gates run DISTRIBUTED (partition-wise
    * encode; no driver materialization), mirroring how a real corpus
    * arrives with its blobs already in the rows.
    */
  def withPngBlob(
      df: DataFrame,
      idCol: String,
      w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column,
      r0: org.apache.spark.sql.Column,
      g0: org.apache.spark.sql.Column,
      b0: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.select(
      col(idCol),
      w.cast(IntegerType).as("__w"),
      h.cast(IntegerType).as("__h"),
      r0.cast(IntegerType).as("__r0"),
      g0.cast(IntegerType).as("__g0"),
      b0.cast(IntegerType).as("__b0"))
    val outSchema = StructType(staged.schema.fields.take(1) :+
      StructField("blob", BinaryType, nullable = false))
    staged.mapPartitions { rows =>
      rows.map { r =>
        Row(
          r.get(0),
          pngFixture(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      }
    }(Encoders.row(outSchema))
  }

  /** Stage a deterministic ANIMATED GIF per row (`nFrames` 6x4 frames,
    * frame i carrying pixel value i) — the multi-frame fixture the
    * m_frame_sample gate decodes back through the real JDK GIF reader.
    * Encode is partition-wise like [[withPngBlob]].
    */
  def withGifBlob(
      df: DataFrame,
      idCol: String,
      nFrames: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.select(col(idCol), nFrames.cast(IntegerType).as("__n"))
    val outSchema = StructType(staged.schema.fields.take(1) :+
      StructField("blob", BinaryType, nullable = false))
    staged.mapPartitions { rows =>
      // one writer per PARTITION (the registry scan in
      // getImageWritersByFormatName is per-call overhead worth hoisting
      // at corpus scale); output is re-bound per row
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      rows.map { r =>
        val n = math.max(1, r.getInt(1))
        val bos = new ByteArrayOutputStream()
        val ios = new MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var i = 0
        while (i < n) {
          val f = new java.awt.image.BufferedImage(
            6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
          f.setRGB(0, 0, i)
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
          i += 1
        }
        writer.endWriteSequence()
        ios.close()
        Row(r.get(0), bos.toByteArray)
      }
    }(Encoders.row(outSchema))
  }

  /** Frame sampling: one output row per sampled frame (`every`-th frame),
    * each carrying a deterministic frame fingerprint — the video-curation
    * plumbing shape (explode-by-frame, partition-wise decode, no shuffle).
    * Frame COUNT comes from the real decode for JDK-decodable formats
    * (GIF is the multi-frame one) and the stub elsewhere; frame CONTENT
    * fingerprints stay byte-derived — the JDK has no video codecs, and a
    * real FFmpeg decoder would emit frame blobs here.
    */
  def frameSample(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      every: Int = 4): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) ++ Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_fp", LongType, nullable = false)))
    pruned.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val meta = decodeAny(bytes)
        (0 until meta.n_frames by every).iterator.map { f =>
          // deterministic per-frame fingerprint from the byte prefix
          val fp = bytes.iterator.take(64).foldLeft(1125899906842597L) {
            (acc, b) => acc * 31 + b
          } + f
          Row(r.get(0), f, fp)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Magic-byte sniff for the audio containers `javax.sound.sampled`
    * parses: RIFF/WAVE, AIFF (FORM/AIFF), AU (.snd).
    */
  def sniffAudioFormat(bytes: Array[Byte]): Option[String] = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    def tag(i: Int): String =
      if (i + 4 <= bytes.length) new String(bytes, i, 4, "US-ASCII") else ""
    if (tag(0) == "RIFF" && tag(8) == "WAVE") Some("wav")
    else if (tag(0) == "FORM" && (tag(8) == "AIFF" || tag(8) == "AIFC"))
      Some("aiff")
    else if (at(0) == '.' && at(1) == 's' && at(2) == 'n' && at(3) == 'd')
      Some("au")
    else None
  }

  /** Deterministic WAV fixture: `n` PCM16 mono samples at `sampleRate` Hz
    * where sample `i = ((i·k + 7) mod 65536) − 32768` — an integer
    * sawtooth, so a passing stats gate proves PER-SAMPLE decode (header
    * parsing alone cannot reproduce the absolute-amplitude sum). Encoded
    * through the real JDK WAV writer (`AudioSystem.write`, RIFF/WAVE
    * PCM_SIGNED little-endian).
    */
  def wavFixture(n: Int, k: Long, sampleRate: Int = 8000): Array[Byte] = {
    require(n > 0, "fixture needs at least one sample")
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = (((i.toLong * k + 7L) % 65536L) - 32768L).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Stage a deterministic WAV blob per row from integer columns —
    * partition-wise encode like [[withPngBlob]] (the real JDK WAV writer
    * runs inside the task; no driver materialization).
    */
  def withWavBlob(
      df: DataFrame,
      idCol: String,
      n: org.apache.spark.sql.Column,
      k: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.select(
      col(idCol),
      n.cast(IntegerType).as("__n"),
      k.cast(LongType).as("__k"))
    val outSchema = StructType(staged.schema.fields.take(1) :+
      StructField("blob", BinaryType, nullable = false))
    staged.mapPartitions { rows =>
      rows.map(r => Row(r.get(0), wavFixture(r.getInt(1), r.getLong(2))))
    }(Encoders.row(outSchema))
  }

  private val audioStatsSchema = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("max_amp", IntegerType, nullable = false)))

  /** Real JDK audio decode: container header (sample rate / channels /
    * bit depth / frame count) AND every PCM sample through
    * `javax.sound.sampled.AudioSystem` — integer amplitude statistics
    * (Σ|sample|, max |sample|) so a relational oracle can replay the
    * decode of a generated fixture exactly (the `m_audio_stats` gate).
    * Supports the PCM16 paths the JDK parses (WAV/AIFF/AU); non-audio or
    * corrupt blobs emit zero stats with the sniffed-or-`raw` tag —
    * corrupt media stays visible to curation filters, as in
    * [[decodeImage]]. Partition-wise, shuffle-free: the 100 TB posture
    * is identical to [[imageStats]].
    */
  def audioStats(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) ++ audioStatsSchema.fields)
    pruned.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val fmt = sniffAudioFormat(bytes)
        val decoded = fmt.flatMap { tag =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(bytes))
            try {
              val af = ais.getFormat
              if (af.getSampleSizeInBits != 16 ||
                af.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
              else {
                val pcm = ais.readAllBytes()
                val nS = pcm.length / 2
                var (sumAbs, maxAmp) = (0L, 0)
                var i = 0
                while (i < nS) {
                  val lo = pcm(2 * i) & 0xff
                  val hi = pcm(2 * i + 1)
                  val v =
                    if (af.isBigEndian) ((pcm(2 * i) << 8) | (pcm(2 * i + 1) & 0xff))
                    else ((hi << 8) | lo)
                  val a = math.abs(v)
                  sumAbs += a
                  if (a > maxAmp) maxAmp = a
                  i += 1
                }
                Some(Row(
                  r.get(0), tag, af.getSampleRate.toInt, af.getChannels.toInt,
                  16, nS.toLong / af.getChannels, sumAbs, maxAmp))
              }
            } finally ais.close()
          } catch { case _: Exception => None }
        }
        decoded.getOrElse(
          Row(r.get(0), fmt.map(_ + "-corrupt").getOrElse("raw"),
            0, 0, 0, 0L, 0L, 0))
      }
    }(Encoders.row(outSchema))
  }

  /** Video-container sniff: ISO-BMFF (MP4/MOV family) = a `ftyp` box at
    * offset 4; Matroska/WebM = the EBML magic `0x1A45DFA3` at offset 0.
    * Both containers are parseable pure-byte-arithmetic even though the
    * JDK has no codec for the streams inside — see [[parseMp4]] /
    * [[parseWebm]].
    */
  def sniffVideoFormat(bytes: Array[Byte]): Option[String] = {
    def tag(i: Int): String =
      if (i + 4 <= bytes.length) new String(bytes, i, 4, "US-ASCII") else ""
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (tag(4) == "ftyp") Some("mp4")
    else if (at(0) == 0x1a && at(1) == 0x45 && at(2) == 0xdf && at(3) == 0xa3)
      Some("webm")
    else None
  }

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  final case class Mp4Meta(
      major_brand: String,
      duration_ms: Long,
      n_tracks: Int,
      width: Int,
      height: Int,
      codec: String)

  /** Parse ISO-BMFF container metadata by walking the box tree — pure
    * byte arithmetic, the WAV-header pattern at the video level
    * (reference analog: none — the brief's multimodal plumbing item).
    * Returns the `ftyp` major brand, the presentation duration from
    * `mvhd` (version 0 and 1), the `trak` count, the FIRST video track's
    * (`hdlr` = 'vide') display dimensions from its `tkhd` (16.16 fixed
    * point) and its codec fourcc from `stsd`'s first sample entry.
    * Malformed structure (impossible box sizes, missing moov/mvhd)
    * returns None → callers classify `mp4-corrupt`. Codec-level DECODE
    * stays out of reach without external libs — this parses the
    * container, exactly like [[audioStats]] reads RIFF headers.
    */
  def parseMp4(bytes: Array[Byte]): Option[Mp4Meta] = {
    var brand = ""
    var durationMs = -1L
    var nTracks = 0
    var vWidth, vHeight = 0
    var vCodec = ""
    var videoSeen = false
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var corrupt = false
    // per-trak scratch (reset at each trak; committed when its walk ends)
    var tkW, tkH = 0
    var tkVideo = false
    var tkCodec = ""

    def walk(from: Long, limit: Long, depth: Int): Unit = {
      var off = from
      while (off < limit && !corrupt) {
        if (off + 8 > limit) { corrupt = true; return }
        val size0 = be32(bytes, off.toInt)
        val typ = fourcc(bytes, off.toInt + 4)
        var header = 8L
        val size =
          if (size0 == 1L) {
            if (off + 16 > limit) { corrupt = true; return }
            header = 16L
            be64(bytes, off.toInt + 8)
          } else if (size0 == 0L) limit - off // box extends to end
          else size0
        // `size > limit - off` (not `off + size > limit`): a crafted
        // 64-bit largesize near Long.MaxValue wraps off+size negative and
        // slips past the guard; off < limit here, so the subtraction form
        // cannot overflow
        if (size < header || size > limit - off || depth > 16) {
          corrupt = true; return
        }
        val p = (off + header).toInt // payload start
        val pLen = (size - header).toInt
        typ match {
          case "ftyp" if pLen >= 4 => brand = fourcc(bytes, p)
          case "mvhd" if pLen >= 4 =>
            val v = bytes(p) & 0xff
            if (v == 1 && pLen >= 32) {
              val ts = be32(bytes, p + 20)
              val dur = be64(bytes, p + 24)
              // a v1 64-bit duration can overflow dur*1000: a wrapped
              // positive product would report garbage as valid metadata —
              // classify mp4-corrupt instead (no real file is ~292Ma long)
              if (dur < 0L || dur > Long.MaxValue / 1000L) corrupt = true
              else if (ts > 0) durationMs = dur * 1000L / ts
            } else if (v == 0 && pLen >= 20) {
              val ts = be32(bytes, p + 12)
              val dur = be32(bytes, p + 16)
              if (ts > 0) durationMs = dur * 1000L / ts
            }
          case "tkhd" if pLen >= 4 =>
            val v = bytes(p) & 0xff
            // width/height trail the 36-byte matrix: v0 payload offset
            // 76/80, v1 (64-bit times) 88/92 — 16.16 fixed point
            val wOff = if (v == 1) 88 else 76
            if (pLen >= wOff + 8) {
              tkW = (be32(bytes, p + wOff) >> 16).toInt
              tkH = (be32(bytes, p + wOff + 4) >> 16).toInt
            }
          case "hdlr" if pLen >= 12 =>
            if (fourcc(bytes, p + 8) == "vide") tkVideo = true
          case "stsd" if pLen >= 16 =>
            // vf(4) entry_count(4) entry_size(4) entry_fourcc(4)
            tkCodec = fourcc(bytes, p + 12)
          case "trak" =>
            nTracks += 1
            tkW = 0; tkH = 0; tkVideo = false; tkCodec = ""
            walk(off + header, off + size, depth + 1)
            // dedicated found-flag, NOT vCodec.isEmpty: a first video
            // trak without an stsd must still win as "first"
            if (tkVideo && !videoSeen) {
              videoSeen = true
              vWidth = tkW; vHeight = tkH; vCodec = tkCodec
            }
          case t if containers(t) =>
            walk(off + header, off + size, depth + 1)
          case _ => // mdat, free, skip-anything-else
        }
        off += size
      }
    }

    walk(0L, bytes.length.toLong, 0)
    if (corrupt || brand.isEmpty || durationMs < 0L) None
    else Some(Mp4Meta(brand, durationMs, nTracks, vWidth, vHeight, vCodec))
  }

  private def boxOut(
      bos: ByteArrayOutputStream, typ: String, payload: Array[Byte]): Unit = {
    val size = payload.length + 8
    bos.write((size >> 24) & 0xff); bos.write((size >> 16) & 0xff)
    bos.write((size >> 8) & 0xff); bos.write(size & 0xff)
    bos.write(typ.getBytes("US-ASCII"))
    bos.write(payload)
  }

  private def beBytes32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Deterministic minimal-but-structurally-real MP4 fixture: `ftyp(isom)`
    * + `moov(mvhd + video trak(tkhd+mdia(mdhd,hdlr(vide),minf(stbl(stsd(
    * codec))))) + nAudio audio traks(hdlr(soun)))` + an `mdat` of
    * `mdatLen` bytes — version-0 boxes, unity matrix, 16.16 dimensions.
    * [[parseMp4]] on the output recovers exactly the inputs, so a
    * relational oracle can replay the parse closed-form (the
    * [[wavFixture]] contract at the container level).
    */
  def mp4Fixture(
      timescale: Int,
      durationTicks: Long,
      width: Int,
      height: Int,
      codec: String,
      nAudio: Int,
      mdatLen: Int): Array[Byte] = {
    require(timescale > 0 && durationTicks >= 0 && durationTicks <= 0xffffffffL)
    require(codec.length == 4, "codec must be a fourcc")
    require(nAudio >= 0, s"nAudio must be non-negative, got $nAudio")
    require(mdatLen >= 0, s"mdatLen must be non-negative, got $mdatLen")
    val unityMatrix = new ByteArrayOutputStream()
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
      .foreach(v => unityMatrix.write(beBytes32(v)))

    def fullBox(typ: String, body: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      boxOut(bos, typ, new Array[Byte](4) ++ body) // version 0, flags 0
      bos.toByteArray
    }
    def container(typ: String, children: Array[Byte]*): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      boxOut(bos, typ, children.reduce(_ ++ _))
      bos.toByteArray
    }

    val mvhd = fullBox("mvhd",
      beBytes32(0) ++ beBytes32(0) ++ // creation, modification
        beBytes32(timescale.toLong) ++ beBytes32(durationTicks) ++
        beBytes32(0x00010000L) ++ Array[Byte](0x01, 0x00) ++ // rate, volume
        new Array[Byte](10) ++ unityMatrix.toByteArray ++
        new Array[Byte](24) ++ beBytes32(2L + nAudio)) // next track id
    def tkhd(trackId: Int, w: Int, h: Int) = fullBox("tkhd",
      beBytes32(0) ++ beBytes32(0) ++ beBytes32(trackId.toLong) ++
        beBytes32(0) ++ beBytes32(durationTicks) ++ new Array[Byte](8) ++
        new Array[Byte](8) ++ // layer, alternate, volume, reserved
        unityMatrix.toByteArray ++
        beBytes32(w.toLong << 16) ++ beBytes32(h.toLong << 16))
    def mdhd = fullBox("mdhd",
      beBytes32(0) ++ beBytes32(0) ++ beBytes32(timescale.toLong) ++
        beBytes32(durationTicks) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    def hdlr(kind: String) = fullBox("hdlr",
      beBytes32(0) ++ kind.getBytes("US-ASCII") ++ new Array[Byte](13))
    def stsd(cc: String) = fullBox("stsd", {
      val entry = new ByteArrayOutputStream()
      boxOut(entry, cc, new Array[Byte](8)) // minimal sample entry stub
      beBytes32(1) ++ entry.toByteArray
    })
    def trak(trackId: Int, kind: String, w: Int, h: Int, cc: String) =
      container("trak",
        tkhd(trackId, w, h),
        container("mdia", mdhd, hdlr(kind),
          container("minf", container("stbl", stsd(cc)))))

    val bos = new ByteArrayOutputStream()
    boxOut(bos, "ftyp",
      "isom".getBytes("US-ASCII") ++ beBytes32(0x200) ++
        "iso2".getBytes("US-ASCII"))
    val traks = trak(1, "vide", width, height, codec) +:
      (0 until nAudio).map(i => trak(2 + i, "soun", 0, 0, "mp4a"))
    boxOut(bos, "moov", (mvhd +: traks).reduce(_ ++ _))
    val mdat = new Array[Byte](mdatLen)
    var i = 0
    while (i < mdatLen) { mdat(i) = ((i * 31 + 7) & 0xff).toByte; i += 1 }
    boxOut(bos, "mdat", mdat)
    bos.toByteArray
  }

  /** Stage a deterministic MP4 blob per row from integer/string columns —
    * partition-wise encode like [[withWavBlob]].
    */
  def withMp4Blob(
      df: DataFrame,
      idCol: String,
      timescale: org.apache.spark.sql.Column,
      durationTicks: org.apache.spark.sql.Column,
      width: org.apache.spark.sql.Column,
      height: org.apache.spark.sql.Column,
      codec: org.apache.spark.sql.Column,
      nAudio: org.apache.spark.sql.Column,
      mdatLen: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.select(
      col(idCol),
      timescale.cast(IntegerType).as("__ts"),
      durationTicks.cast(LongType).as("__dur"),
      width.cast(IntegerType).as("__w"),
      height.cast(IntegerType).as("__h"),
      codec.cast(StringType).as("__cc"),
      nAudio.cast(IntegerType).as("__na"),
      mdatLen.cast(IntegerType).as("__ml"))
    val outSchema = StructType(staged.schema.fields.take(1) :+
      StructField("blob", BinaryType, nullable = false))
    staged.mapPartitions { rows =>
      rows.map(r => Row(r.get(0), mp4Fixture(
        r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getString(5), r.getInt(6), r.getInt(7))))
    }(Encoders.row(outSchema))
  }

  // ---------------------------------------------------------------- WebM

  final case class WebmMeta(
      doc_type: String,
      duration_ms: Long,
      n_tracks: Int,
      width: Int,
      height: Int,
      codec: String)

  // Matroska/WebM element IDs (raw, marker bits retained — public EBML /
  // Matroska spec, RFC 8794): the subset a metadata walk needs.
  private val EbmlHeader = 0x1a45dfa3L
  private val EDocType = 0x4282L
  private val ESegment = 0x18538067L
  private val EInfo = 0x1549a966L
  private val ETimestampScale = 0x2ad7b1L
  private val EDuration = 0x4489L
  private val ETracks = 0x1654ae6bL
  private val ETrackEntry = 0xaeL
  private val ETrackType = 0x83L
  private val ECodecId = 0x86L
  private val EVideo = 0xe0L
  private val EPixelWidth = 0xb0L
  private val EPixelHeight = 0xbaL

  /** Parse Matroska/WebM container metadata by walking the EBML element
    * tree — the [[parseMp4]] pattern one container format over (reference
    * analog: none — the brief's multimodal-columns item; spec: RFC 8794 +
    * the public Matroska element registry). Recovers the EBML `DocType`,
    * the presentation duration from `Info` (`Duration` float units ×
    * `TimestampScale` ns), the `TrackEntry` count and the FIRST video
    * track's (`TrackType`=1) pixel dimensions + codec id. Every length is
    * varint-decoded with overflow-safe subtraction bounds (the hardened
    * parseMp4 guards from the start); malformed structure returns None →
    * callers classify `webm-corrupt`. Codec-level DECODE stays out of
    * reach without external libs — container layer only.
    */
  /** Pixel-dimension sanity ceiling for [[parseWebm]]: EBML PixelWidth/
    * PixelHeight are up-to-8-byte uints, so a crafted element can encode
    * values far past any displayable raster; anything above this (or
    * negative after the 8-byte read) classifies the blob corrupt instead
    * of narrowing into garbage `Int` dimensions. 2^20 px/side is ~16×
    * beyond 8K video.
    */
  val MaxPixelDim: Long = 1L << 20

  def parseWebm(bytes: Array[Byte]): Option[WebmMeta] = {
    var docType = ""
    var scaleNs = 1000000L // Matroska default: 1 ms per timestamp unit
    var durUnits = -1.0
    var nTracks = 0
    var vW, vH = 0
    var vCodec = ""
    var videoSeen = false
    var corrupt = false
    // per-TrackEntry scratch (reset per entry; committed when it ends)
    var tkType = 0L
    var tkW, tkH = 0
    var tkCodec = ""

    // contexts the dispatch below distinguishes
    val CtxRoot = 0; val CtxEbml = 1; val CtxSegment = 2; val CtxInfo = 3
    val CtxTracks = 4; val CtxEntry = 5; val CtxVideo = 6

    def vintLen(b: Int, max: Int): Int = {
      var l = 1
      var mask = 0x80
      while (l <= max && (b & mask) == 0) { l += 1; mask >>= 1 }
      if (l > max) -1 else l
    }
    // raw element ID (marker retained), ≤4 bytes; -1L on malformed
    def readId(off: Long, limit: Long): (Long, Int) = {
      if (off >= limit) return (-1L, 0)
      val l = vintLen(bytes(off.toInt) & 0xff, 4)
      if (l < 0 || off + l > limit) return (-1L, 0)
      var v = 0L
      var i = 0
      while (i < l) { v = (v << 8) | (bytes((off + i).toInt) & 0xffL); i += 1 }
      (v, l)
    }
    // data size (marker stripped), ≤8 bytes; (-1,len) = unknown size,
    // (-2,0) = malformed
    def readSize(off: Long, limit: Long): (Long, Int) = {
      if (off >= limit) return (-2L, 0)
      val b0 = bytes(off.toInt) & 0xff
      val l = vintLen(b0, 8)
      if (l < 0 || off + l > limit) return (-2L, 0)
      var v = (b0 & ((0x80 >> (l - 1)) - 1)).toLong
      var i = 1
      while (i < l) { v = (v << 8) | (bytes((off + i).toInt) & 0xffL); i += 1 }
      // all value bits set = reserved "unknown size"
      if (v == (1L << (7 * l)) - 1L) (-1L, l) else (v, l)
    }
    def readUint(p: Long, len: Long): Long = {
      if (len < 1 || len > 8) { corrupt = true; return -1L }
      var v = 0L
      var i = 0L
      while (i < len) { v = (v << 8) | (bytes((p + i).toInt) & 0xffL); i += 1 }
      v
    }
    def readFloat(p: Long, len: Long): Double =
      if (len == 4L)
        java.lang.Float.intBitsToFloat(be32(bytes, p.toInt).toInt).toDouble
      else if (len == 8L) java.lang.Double.longBitsToDouble(be64(bytes, p.toInt))
      else { corrupt = true; -1.0 }

    def walk(from: Long, limit: Long, depth: Int, ctx: Int): Unit = {
      var off = from
      while (off < limit && !corrupt) {
        val (id, idLen) = readId(off, limit)
        if (idLen == 0) { corrupt = true; return }
        val (size0, szLen) = readSize(off + idLen, limit)
        if (size0 == -2L) { corrupt = true; return }
        val p = off + idLen + szLen
        // unknown size (streamed Segments/Clusters) extends to parent end
        val size = if (size0 == -1L) limit - p else size0
        // subtraction form: p ≤ limit here, so no additive overflow
        if (size < 0L || size > limit - p || depth > 16) {
          corrupt = true; return
        }
        (ctx, id) match {
          case (CtxRoot, EbmlHeader) => walk(p, p + size, depth + 1, CtxEbml)
          case (CtxEbml, EDocType) =>
            docType = new String(bytes, p.toInt, size.toInt, "US-ASCII")
              .takeWhile(_ != '\u0000') // spec: strings may be NUL-padded
          case (CtxRoot, ESegment) => walk(p, p + size, depth + 1, CtxSegment)
          case (CtxSegment, EInfo) => walk(p, p + size, depth + 1, CtxInfo)
          case (CtxInfo, ETimestampScale) =>
            scaleNs = readUint(p, size)
            if (scaleNs <= 0L) corrupt = true
          case (CtxInfo, EDuration) => durUnits = readFloat(p, size)
          case (CtxSegment, ETracks) => walk(p, p + size, depth + 1, CtxTracks)
          case (CtxTracks, ETrackEntry) =>
            tkType = 0L; tkW = 0; tkH = 0; tkCodec = ""
            walk(p, p + size, depth + 1, CtxEntry)
            nTracks += 1
            if (tkType == 1L && !videoSeen) { // 1 = video in the registry
              videoSeen = true
              vW = tkW; vH = tkH; vCodec = tkCodec
            }
          case (CtxEntry, ETrackType) => tkType = readUint(p, size)
          case (CtxEntry, ECodecId) =>
            tkCodec = new String(bytes, p.toInt, size.toInt, "US-ASCII")
              .takeWhile(_ != '\u0000')
          case (CtxEntry, EVideo) => walk(p, p + size, depth + 1, CtxVideo)
          // bound dimensions before the Int narrowing — a crafted 5-8
          // byte uint must classify corrupt (the duration-overflow rule),
          // not truncate into plausible-looking garbage pixels
          case (CtxVideo, EPixelWidth) =>
            val v = readUint(p, size)
            if (v < 0L || v > MaxPixelDim) corrupt = true else tkW = v.toInt
          case (CtxVideo, EPixelHeight) =>
            val v = readUint(p, size)
            if (v < 0L || v > MaxPixelDim) corrupt = true else tkH = v.toInt
          case _ => // Clusters, SeekHead, Cues, Void, … — skipped
        }
        off = p + size
      }
    }

    walk(0L, bytes.length.toLong, 0, CtxRoot)
    if (corrupt || docType.isEmpty || durUnits < 0.0) None
    else {
      // duration = units × ns/unit ÷ 1e6 — all integer once units are
      // integral; reject shapes whose product would wrap (a crafted float
      // near Double.MaxValue must classify corrupt, not report garbage)
      if (!java.lang.Double.isFinite(durUnits) || durUnits > (1L << 53).toDouble)
        None
      else {
        val ticks = durUnits.toLong
        if (scaleNs > 0L && ticks > Long.MaxValue / scaleNs) None
        else Some(WebmMeta(
          docType, ticks * scaleNs / 1000000L, nTracks, vW, vH, vCodec))
      }
    }
  }

  private def ebmlId(id: Long): Array[Byte] = {
    val len = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    (0 until len).map(i => ((id >> (8 * (len - 1 - i))) & 0xff).toByte).toArray
  }

  private def ebmlSize(n: Long): Array[Byte] = {
    var len = 1
    // minimal length whose all-ones (unknown-size) marker n avoids
    while (len < 8 && n >= (1L << (7 * len)) - 1L) len += 1
    val out = new Array[Byte](len)
    out(0) = ((0x80 >> (len - 1)) | ((n >> (8 * (len - 1))) &
      ((0x80 >> (len - 1)) - 1))).toByte
    var i = 1
    while (i < len) {
      out(i) = ((n >> (8 * (len - 1 - i))) & 0xff).toByte
      i += 1
    }
    out
  }

  private def ebmlUint(v: Long): Array[Byte] = {
    var len = 1
    while (len < 8 && (v >>> (8 * len)) != 0L) len += 1
    (0 until len).map(i => ((v >> (8 * (len - 1 - i))) & 0xff).toByte).toArray
  }

  private def ebmlEl(id: Long, payload: Array[Byte]): Array[Byte] =
    ebmlId(id) ++ ebmlSize(payload.length.toLong) ++ payload

  /** Deterministic minimal-but-structurally-real WebM fixture: EBML header
    * (`DocType=webm`) + Segment(Info(TimestampScale, Duration-as-double) +
    * Tracks(video TrackEntry with pixel dims + codec id, nAudio audio
    * entries) + a Cluster of `clusterLen` opaque bytes). [[parseWebm]] on
    * the output recovers exactly the inputs — the [[mp4Fixture]] contract
    * one container over, so a relational oracle replays the parse
    * closed-form.
    */
  def webmFixture(
      scaleNs: Long,
      durationUnits: Long,
      width: Int,
      height: Int,
      codec: String,
      nAudio: Int,
      clusterLen: Int): Array[Byte] = {
    require(scaleNs > 0L, s"scaleNs must be positive, got $scaleNs")
    require(durationUnits >= 0L && durationUnits <= (1L << 53),
      s"durationUnits out of exact-double range: $durationUnits")
    require(nAudio >= 0 && clusterLen >= 0, "nAudio/clusterLen non-negative")
    val header = ebmlEl(EbmlHeader,
      ebmlEl(EDocType, "webm".getBytes("US-ASCII")))
    val durBits = java.lang.Double.doubleToLongBits(durationUnits.toDouble)
    val info = ebmlEl(EInfo,
      ebmlEl(ETimestampScale, ebmlUint(scaleNs)) ++
        ebmlEl(EDuration,
          (0 until 8).map(i => ((durBits >> (8 * (7 - i))) & 0xff).toByte)
            .toArray))
    val videoTrack = ebmlEl(ETrackEntry,
      ebmlEl(ETrackType, Array(1.toByte)) ++
        ebmlEl(ECodecId, codec.getBytes("US-ASCII")) ++
        ebmlEl(EVideo,
          ebmlEl(EPixelWidth, ebmlUint(width.toLong)) ++
            ebmlEl(EPixelHeight, ebmlUint(height.toLong))))
    val audioTracks = (0 until nAudio).map(_ => ebmlEl(ETrackEntry,
      ebmlEl(ETrackType, Array(2.toByte)) ++
        ebmlEl(ECodecId, "A_OPUS".getBytes("US-ASCII"))))
    val tracks = ebmlEl(ETracks,
      (videoTrack +: audioTracks).reduce(_ ++ _))
    val cluster = new Array[Byte](clusterLen)
    var i = 0
    while (i < clusterLen) { cluster(i) = ((i * 31 + 7) & 0xff).toByte; i += 1 }
    header ++ ebmlEl(ESegment,
      info ++ tracks ++ ebmlEl(0x1f43b675L, cluster))
  }

  /** Stage a deterministic WebM blob per row from integer/string columns —
    * partition-wise encode like [[withMp4Blob]].
    */
  def withWebmBlob(
      df: DataFrame,
      idCol: String,
      scaleNs: org.apache.spark.sql.Column,
      durationUnits: org.apache.spark.sql.Column,
      width: org.apache.spark.sql.Column,
      height: org.apache.spark.sql.Column,
      codec: org.apache.spark.sql.Column,
      nAudio: org.apache.spark.sql.Column,
      clusterLen: org.apache.spark.sql.Column): DataFrame = {
    val staged = df.select(
      col(idCol),
      scaleNs.cast(LongType).as("__sc"),
      durationUnits.cast(LongType).as("__du"),
      width.cast(IntegerType).as("__w"),
      height.cast(IntegerType).as("__h"),
      codec.cast(StringType).as("__cc"),
      nAudio.cast(IntegerType).as("__na"),
      clusterLen.cast(IntegerType).as("__cl"))
    val outSchema = StructType(staged.schema.fields.take(1) :+
      StructField("blob", BinaryType, nullable = false))
    staged.mapPartitions { rows =>
      rows.map(r => Row(r.get(0), webmFixture(
        r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getString(5), r.getInt(6), r.getInt(7))))
    }(Encoders.row(outSchema))
  }

  private val videoMetaSchema = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("major_brand", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("codec", StringType, nullable = false)))

  /** Container metadata for video blobs — the [[parseMp4]] box walk for
    * ISO-BMFF, the [[parseWebm]] EBML walk for Matroska/WebM —
    * partition-wise and shuffle-free (the [[audioStats]] posture).
    * Unrecognized bytes classify `raw`, sniffed-but-malformed
    * `mp4-corrupt`/`webm-corrupt` (visible to curation filters, as
    * everywhere in this module); either way zero/empty metadata. The
    * `major_brand` slot carries the EBML DocType for webm. Codec-level
    * decode remains the documented stub — this is the container layer
    * only.
    */
  def videoMeta(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) ++ videoMetaSchema.fields)
    pruned.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        sniffVideoFormat(bytes) match {
          case Some("mp4") =>
            parseMp4(bytes) match {
              case Some(m) => Row(r.get(0), "mp4", m.major_brand,
                m.duration_ms, m.n_tracks, m.width, m.height, m.codec)
              case None => Row(r.get(0), "mp4-corrupt", "", 0L, 0, 0, 0, "")
            }
          case Some(_) => // webm
            parseWebm(bytes) match {
              case Some(m) => Row(r.get(0), "webm", m.doc_type,
                m.duration_ms, m.n_tracks, m.width, m.height, m.codec)
              case None => Row(r.get(0), "webm-corrupt", "", 0L, 0, 0, 0, "")
            }
          case None => Row(r.get(0), "raw", "", 0L, 0, 0, 0, "")
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Fixed-dimension feature extraction: a deterministic `dim`-float vector
    * per blob (byte-histogram projection stub) — the embed-everything
    * plumbing shape: binary in, `Array[Float]` out, ready for
    * [[Similarity]] operators downstream. A real implementation would run
    * the encoder model here, batched per partition.
    */
  def featureExtract(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      dim: Int = 16): DataFrame = {
    val pruned = df.select(col(idCol), col(blobCol))
    val outSchema = StructType(pruned.schema.fields.take(1) :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    pruned.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val acc = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) {
          acc(i % dim) += (bytes(i) & 0xff) / 255.0f
          i += 1
        }
        Row(r.get(0), acc.toSeq)
      }
    }(Encoders.row(outSchema))
  }
}
