package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data lake: image/audio/video as
  * opaque `binary` content plus a typed metadata struct, with
  * decode / feature-extract / resize / frame-sample staged as
  * partition-parallel transforms.
  *
  * The Spark-side plumbing — schema, partitioning, batch shape,
  * deterministic outputs — is real and tested. The IMAGE decode path is
  * real: the JDK's `javax.imageio` reads PNG/JPEG/GIF/BMP bytes to
  * actual pixel dimensions. The AUDIO decode path is real too: the
  * JDK's `javax.sound.sampled` parses WAV/AIFF/AU headers to sample
  * rate and frame count (→ duration). The VIDEO path parses BOTH
  * containers for real — a pure-JDK `ftyp`/`moov`/`mvhd` box walk for
  * ISO-BMFF/MP4 and a RIFF `hdrl`/`movi` walk for AVI — and AVI
  * PIXELS are real on two codec coverage points: MJPEG `00dc` chunks
  * decode with ImageIO's JPEG codec and uncompressed BI_RGB `00db`
  * chunks decode CODEC-FREE (raw bottom-up BGR rows —
  * [[decodeDibFrame]]), both behind one frame-decode seam
  * ([[decodeAviFrame]]). Only COMPRESSED non-JPEG video codecs
  * (H.26x in MP4/AVI) remain STUBBED (the JDK ships no such codec and
  * this build has no media libraries): that one site is marked
  * `STUB:` so the codec swap is mechanical.
  *
  * Scale notes: content rides in the row (parquet binary) — at lake
  * scale the column is typically a reference (uri, offset, nbytes) into
  * blob storage and `decodePartition` fetches; the partition-iterator
  * shape below is exactly `mapInPandas`/`mapPartitions` batch decode,
  * so executors amortize codec init per partition, not per row.
  * `repartition(n)` before decode sets decode parallelism independent
  * of upstream file layout. */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int,
      sampleRate: Int, durationMs: Long)
  final case class MediaRow(mediaId: Long, kind: String, content: Array[Byte],
      meta: MediaMeta)
  final case class Decoded(mediaId: Long, kind: String, nBytes: Int,
      meanByte: Double, checksum: Long, width: Int, height: Int,
      sampleRate: Int, durationMs: Long)
  final case class Features(mediaId: Long, embedding: Array[Float])

  /** Container-level video metadata from the MP4 box walk. */
  final case class Mp4Meta(majorBrand: String, timescaleHz: Long,
      durationMs: Long, trackCount: Int)

  /** Pure-JDK ISO-BMFF/MP4 container walk (NO codec): top-level boxes →
    * `ftyp` major brand; `moov` children → `trak` count and `mvhd`
    * (v0: 32-bit timescale/duration at payload+12/+16; v1: 64-bit
    * duration at +20/+24) → duration in ms. Boxes are
    * [u32 size][4cc type][payload]; size==1 pulls a 64-bit largesize,
    * size==0 means to-end-of-enclosure. Returns None unless a
    * well-formed `moov`/`mvhd` with a positive timescale is present —
    * arbitrary bytes fail the very first size bound and fall out. */
  def parseMp4(bytes: Array[Byte]): Option[Mp4Meta] = {
    def u32(off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    def fourcc(off: Int): String = new String(bytes, off, 4, "ISO-8859-1")
    /** (type, payloadStart, payloadEnd) for each box in [start, end);
      * stops at the first malformed header. */
    def walk(start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = start
      var ok = true
      while (ok && off + 8 <= end) {
        val size0 = u32(off)
        val (hdr, size) =
          if (size0 == 1 && off + 16 <= end) (16L, u64(off + 8))
          else if (size0 == 0) (8L, (end - off).toLong)
          else (8L, size0)
        if (size < hdr || size > end - off) ok = false
        else {
          out += ((fourcc(off + 4), off + hdr.toInt, off + size.toInt))
          off += size.toInt
        }
      }
      out.result()
    }
    val top = walk(0, bytes.length)
    val brand = top.collectFirst {
      case ("ftyp", s, e) if e - s >= 4 => fourcc(s)
    }
    top.collectFirst { case ("moov", s, e) => walk(s, e) }.flatMap { kids =>
      val tracks = kids.count(_._1 == "trak")
      kids.collectFirst { case ("mvhd", s, e) => (s, e) }.flatMap {
        case (s, e) =>
          val v = if (e - s >= 1) bytes(s) & 0xff else -1
          val tsDur =
            if (v == 0 && e - s >= 20) Some((u32(s + 12), u32(s + 16)))
            else if (v == 1 && e - s >= 32) Some((u32(s + 20), u64(s + 24)))
            else None
          tsDur.collect { case (ts, dur) if ts > 0 =>
            Mp4Meta(brand.getOrElse(""), ts, dur * 1000L / ts, tracks)
          }
      }
    }
  }

  /** Minimal GENUINE ISO-BMFF bytes — ftyp + moov(mvhd v0 + traks) —
    * that [[parseMp4]] (or any container reader) accepts; used by the
    * m3 driver gate and available to fixtures. The mvhd payload is the
    * full 100-byte v0 layout with creation/modification zeroed. */
  def mp4Fixture(timescale: Int, durationTicks: Long,
      tracks: Int = 1): Array[Byte] = {
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(payload.length + 8)
      b.putInt(payload.length + 8).put(t.getBytes("ISO-8859-1")).put(payload)
      b.array()
    }
    val mvhd = {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0).putInt(timescale)
        .putInt(durationTicks.toInt)
      b.array()
    }
    val ftyp = box("ftyp", "isom\u0000\u0000\u0000\u0000isomiso2"
      .getBytes("ISO-8859-1"))
    ftyp ++ box("moov", box("mvhd", mvhd) ++
      Array.fill(tracks)(box("trak", Array.emptyByteArray)).flatten)
  }

  /** Container-level video metadata from the RIFF/AVI walk. */
  final case class AviMeta(microSecPerFrame: Long, totalFrames: Int,
      streams: Int, width: Int, height: Int)

  /** One sampled-and-DECODED video frame: `frameIdx` is the sample
    * position (0 until k), `frameNo` the container frame it mapped to;
    * width/height/pixChecksum come from actually decoded pixels. */
  final case class AviFrame(mediaId: Long, frameIdx: Int, frameNo: Int,
      frameTsMs: Long, width: Int, height: Int, pixChecksum: Long)

  // RIFF is little-endian (unlike ISO-BMFF's big-endian u32s) and pads
  // every chunk to an even boundary; both walks share the shape:
  // [4cc][u32le size][payload], LIST/RIFF payloads lead with a 4cc type.
  private def riffWalk(bytes: Array[Byte], start: Int,
      end: Int): Seq[(String, Int, Int)] = {
    def u32le(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    val out = Seq.newBuilder[(String, Int, Int)]
    var off = start
    var ok = true
    while (ok && off + 8 <= end) {
      val size = u32le(off + 4)
      if (size > end - off - 8) ok = false
      else {
        out += ((new String(bytes, off, 4, "ISO-8859-1"),
          off + 8, off + 8 + size.toInt))
        off += 8 + size.toInt + (size.toInt & 1) // even-boundary pad
      }
    }
    out.result()
  }

  /** Pure-JDK RIFF/AVI container walk (NO codec): `RIFF…AVI ` →
    * `LIST hdrl` → `avih` (MainAVIHeader: µs/frame at +0, total frames
    * at +16, stream count at +24, dims at +32/+36, all u32le). Returns
    * None unless the RIFF signature, the AVI form type and a
    * well-formed avih are all present — arbitrary bytes fall out at
    * the signature check. */
  def parseAvi(bytes: Array[Byte]): Option[AviMeta] = {
    def u32le(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String = new String(bytes, off, 4, "ISO-8859-1")
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      None
    else riffWalk(bytes, 12, bytes.length)
      .collectFirst { case ("LIST", s, e) if e - s >= 4 && fourcc(s) == "hdrl" =>
        riffWalk(bytes, s + 4, e)
      }
      .flatMap(_.collectFirst { case ("avih", s, e) if e - s >= 40 =>
        AviMeta(u32le(s), u32le(s + 16).toInt, u32le(s + 24).toInt,
          u32le(s + 32).toInt, u32le(s + 36).toInt)
      })
  }

  /** Uncompressed-DIB stream format from an AVI's `strf`
    * (BITMAPINFOHEADER): dims, and whether rows are stored top-down
    * (negative biHeight) instead of DIB's default bottom-up. */
  final case class AviDibInfo(width: Int, height: Int, topDown: Boolean)

  /** The video stream's BITMAPINFOHEADER when — and only when — it
    * declares CODEC-FREE uncompressed 24-bit RGB frames
    * (biCompression = 0 = BI_RGB, biBitCount = 24): walk
    * `hdrl` → the `vids` `strl` → its `strf`. Such frames need no
    * codec at all — just row-stride and bottom-up handling — so they
    * decode on any JVM; compressed streams (MJPG/H.26x handlers)
    * return None and take the per-frame ImageIO path instead. */
  def aviDibInfo(bytes: Array[Byte]): Option[AviDibInfo] = {
    def u32le(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def u16le(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def fourcc(off: Int): String = new String(bytes, off, 4, "ISO-8859-1")
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      None
    else riffWalk(bytes, 12, bytes.length)
      .collectFirst { case ("LIST", s, e) if e - s >= 4 && fourcc(s) == "hdrl" =>
        riffWalk(bytes, s + 4, e).collect {
          case ("LIST", ls, le) if le - ls >= 4 && fourcc(ls) == "strl" =>
            riffWalk(bytes, ls + 4, le)
        }
      }
      .flatMap(_.collectFirst(Function.unlift { strl =>
        // the stream whose strh declares a video handler
        strl.collectFirst {
          case ("strh", hs, he) if he - hs >= 4 && fourcc(hs) == "vids" =>
            strl.collectFirst {
              case ("strf", fs, fe) if fe - fs >= 40 &&
                  u32le(fs + 16) == 0 && u16le(fs + 14) == 24 =>
                val rawH = u32le(fs + 8).toInt // signed: <0 = top-down
                AviDibInfo(u32le(fs + 4).toInt, math.abs(rawH), rawH < 0)
            }
        }.flatten
      }))
  }

  /** Decode one raw 24-bit BI_RGB frame chunk: rows are
    * 4-byte-aligned (stride = ⌈3w/4⌉·4), stored bottom-up unless
    * `topDown`, pixels little-endian B,G,R. None when the chunk
    * doesn't hold exactly the declared raster (a truncated frame must
    * not fabricate pixels). */
  private def decodeDibFrame(bytes: Array[Byte], cs: Int, ce: Int,
      d: AviDibInfo): Option[java.awt.image.BufferedImage] = {
    val stride = ((d.width * 3 + 3) / 4) * 4
    if (d.width <= 0 || d.height <= 0 || ce - cs != stride * d.height) None
    else {
      val img = new java.awt.image.BufferedImage(
        d.width, d.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < d.height) {
        val fileRow = if (d.topDown) y else d.height - 1 - y
        val off = cs + fileRow * stride
        var x = 0
        while (x < d.width) {
          val b = bytes(off + 3 * x) & 0xff
          val g = bytes(off + 3 * x + 1) & 0xff
          val r = bytes(off + 3 * x + 2) & 0xff
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      Some(img)
    }
  }

  /** THE shared video-frame decode seam ([[frameSampleAvi]] /
    * [[featuresFrames]] / the heavy-sweep media entries all route
    * through it): a stream declaring BI_RGB decodes codec-free via
    * [[decodeDibFrame]]; anything else goes to ImageIO (which ships a
    * JPEG codec, covering MJPEG). Null when neither can decode —
    * callers keep their existing no-fabricated-identity conventions.
    * Dispatch is on the strf declaration, never on chunk-size
    * heuristics: a BI_RGB stream's chunks ARE rasters, an MJPG
    * stream's never are. */
  private def decodeAviFrame(bytes: Array[Byte], cs: Int, ce: Int,
      dib: Option[AviDibInfo]): java.awt.image.BufferedImage =
    dib match {
      case Some(d) => decodeDibFrame(bytes, cs, ce, d).orNull
      case None =>
        try javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes, cs, ce - cs))
        catch { case _: Exception => null }
    }

  /** Payload ranges of the `movi` frame chunks (`##dc` compressed /
    * `##db` uncompressed), in container order — for MJPEG each range
    * is one complete JPEG stream. */
  def aviFrameChunks(bytes: Array[Byte]): Vector[(Int, Int)] = {
    def fourcc(off: Int): String = new String(bytes, off, 4, "ISO-8859-1")
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      Vector.empty
    else riffWalk(bytes, 12, bytes.length)
      .collectFirst { case ("LIST", s, e) if e - s >= 4 && fourcc(s) == "movi" =>
        riffWalk(bytes, s + 4, e).collect {
          case (cc, cs, ce) if cc.endsWith("dc") || cc.endsWith("db") =>
            (cs, ce)
        }.toVector
      }
      .getOrElse(Vector.empty)
  }

  /** Minimal GENUINE MJPEG-in-AVI bytes: RIFF(AVI ) with a real
    * `hdrl` (avih + a vids/MJPG strl) and a `movi` list whose `00dc`
    * chunks are actual ImageIO-encoded JPEG frames (deterministic
    * per-frame gradient fill). Built for the m5 driver gate and the
    * frame-decode specs; any MJPEG-capable player structure-wise. */
  def aviMjpegFixture(frames: Int, width: Int, height: Int,
      fps: Int = 10, seed: Long = 0L): Array[Byte] = {
    require(frames >= 0 && width > 0 && height > 0 && fps > 0,
      s"bad AVI fixture request: frames=$frames ${width}x$height @$fps")
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, payload: Array[Byte]): Array[Byte] =
      cc.getBytes("ISO-8859-1") ++ le32(payload.length) ++ payload ++
        (if ((payload.length & 1) == 1) Array(0.toByte)
         else Array.emptyByteArray)
    def list(tp: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", tp.getBytes("ISO-8859-1") ++ children)
    javax.imageio.ImageIO.setUseCache(false)
    val jpegs = (0 until frames).map { f =>
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y,
            (((f * 53 + seed * 101 + x * 3) % 256).toInt << 16) |
              (((f * 29 + seed * 59 + y * 5) % 256).toInt << 8) |
              ((f * 17 + seed * 23 + x + y) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("ISO-8859-1") ++ "MJPG".getBytes("ISO-8859-1") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(fps) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array.fill(8)(0.toByte)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++
      Array[Byte](1, 0, 24, 0) ++ "MJPG".getBytes("ISO-8859-1") ++
      le32(width.toLong * height * 3) ++ Array.fill(16)(0.toByte)
    val body = "AVI ".getBytes("ISO-8859-1") ++
      list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf))) ++
      list("movi", jpegs.toArray.flatMap(chunk("00dc", _)))
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** Minimal GENUINE uncompressed-RGB AVI bytes: the
    * [[aviMjpegFixture]] container layout with the codec REMOVED —
    * strh handler `DIB `, strf biCompression = 0 (BI_RGB) /
    * biBitCount = 24, and `00db` chunks holding raw bottom-up
    * 4-byte-aligned BGR rows of the SAME deterministic per-frame
    * gradient the MJPEG fixture paints. Raw frames are LOSSLESS, so —
    * unlike the JPEG fixture — every decoded pixel is algebraically
    * known and the m15 oracle recomputes the raster end to end. */
  def aviDibFixture(frames: Int, width: Int, height: Int,
      fps: Int = 10, seed: Long = 0L): Array[Byte] = {
    require(frames >= 0 && width > 0 && height > 0 && fps > 0,
      s"bad AVI fixture request: frames=$frames ${width}x$height @$fps")
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, payload: Array[Byte]): Array[Byte] =
      cc.getBytes("ISO-8859-1") ++ le32(payload.length) ++ payload ++
        (if ((payload.length & 1) == 1) Array(0.toByte)
         else Array.emptyByteArray)
    def list(tp: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", tp.getBytes("ISO-8859-1") ++ children)
    val stride = ((width * 3 + 3) / 4) * 4
    val rasters = (0 until frames).map { f =>
      val buf = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        val off = (height - 1 - y) * stride // bottom-up row order
        var x = 0
        while (x < width) {
          buf(off + 3 * x) = ((f * 17 + seed * 23 + x + y) % 256).toByte
          buf(off + 3 * x + 1) = ((f * 29 + seed * 59 + y * 5) % 256).toByte
          buf(off + 3 * x + 2) = ((f * 53 + seed * 101 + x * 3) % 256).toByte
          x += 1
        }
        y += 1
      }
      buf
    }
    val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ Array.fill(16)(0.toByte)
    val strh = "vids".getBytes("ISO-8859-1") ++ "DIB ".getBytes("ISO-8859-1") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(1) ++ le32(fps) ++ le32(0) ++
      le32(frames) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array.fill(8)(0.toByte)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++
      Array[Byte](1, 0, 24, 0) ++ le32(0) /* BI_RGB */ ++
      le32(stride.toLong * height) ++ Array.fill(16)(0.toByte)
    val body = "AVI ".getBytes("ISO-8859-1") ++
      list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf))) ++
      list("movi", rasters.toArray.flatMap(chunk("00db", _)))
    "RIFF".getBytes("ISO-8859-1") ++ le32(body.length) ++ body
  }

  /** Minimal GENUINE RIFF/WAVE bytes (8 kHz mono 16-bit PCM with
    * `frames` frames of deterministic samples), encoded by the same
    * javax.sound writer the decoder's provider probe reads back; used
    * by the m4 driver gate and available to fixtures. */
  def wavFixture(frames: Int, rate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    require(frames >= 0 && frames <= Int.MaxValue / 2,
      s"frames out of range for 16-bit mono PCM: $frames")
    val pcm = Array.tabulate(frames * 2)(i => (i * 13 % 251).toByte)
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  /** WAV whose [[aHash64Pcm]] is EXACTLY `bits` — the m18 fixture, the
    * audio analogue of [[bitPatternImage]]: 64 blocks of `cell`
    * samples, block b uniformly +amp when bit b is set, −amp when
    * clear. With p = popcount(bits) < 64 the global mean is
    * amp·(2p−64)/64 ∈ [−amp, amp), so every +amp block exceeds it
    * strictly and every −amp block never does (the p = 0 equality
    * resolves to clear, which matches). All-ones is the one pattern
    * with NO realization — no block can exceed a global mean equal to
    * every block's mean — so it is rejected rather than silently
    * mis-rendered. 16-bit mono PCM through the real WAV writer, so
    * the hash survives the codec round-trip bit-exactly. */
  def wavPatternFixture(bits: Long, cell: Int = 8,
      amp: Int = 1000): Array[Byte] = {
    require(bits != -1L,
      "all-ones aHash has no realization: no block exceeds a global " +
        "mean every block equals")
    require(cell >= 1 && amp >= 1 && amp < 32768,
      s"bad wav pattern fixture: cell=$cell amp=$amp")
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = 64 * cell
    val pcm = new Array[Byte](n * 2)
    var b = 0
    while (b < 64) {
      val v = if (((bits >>> b) & 1L) == 1L) amp else -amp
      var j = b * cell
      while (j < (b + 1) * cell) {
        pcm(2 * j) = (v & 0xff).toByte
        pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
        j += 1
      }
      b += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  /** Deterministic fixture table: stable pseudo-random bytes per id. */
  def fixture(spark: SparkSession, n: Int, parts: Int = 4): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).repartition(parts).map { id =>
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val len = 64 + (id * 37 % 191).toInt
      val bytes = Array.tabulate(len)(i => ((id * 131 + i * 31) % 251).toByte)
      MediaRow(id, kind,
        bytes, MediaMeta(
          format = if (kind == "image") "png" else if (kind == "audio") "wav" else "mp4",
          width = if (kind == "image") 640 else 0,
          height = if (kind == "image") 480 else 0,
          sampleRate = if (kind == "audio") 16000 else 0,
          durationMs = if (kind == "video") 1000 + id * 40 else 0))
    }
  }

  /** Decode pass: partition-parallel, codec init amortized per
    * partition. Images go through a REAL codec — the JDK's ImageIO
    * (PNG/JPEG/GIF/BMP readers ship with the JRE): width/height come
    * from actual decoded pixels. Audio goes through a REAL parser too —
    * `javax.sound.sampled.AudioSystem` reads WAV/AIFF/AU headers:
    * sampleRate comes from the declared format and durationMs from the
    * actual frame count (frames * 1000 / rate). Video durationMs comes
    * from the REAL container walk ([[parseMp4]] — mvhd duration over
    * timescale); only pixel access is stubbed. Bytes a parser cannot
    * read (and non-matching kinds) carry zeros and keep the
    * deterministic byte summary. */
  def decode(media: Dataset[MediaRow]): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init: prime ImageIO's plugin registry once
      // (and disable the on-disk cache — executor temp dirs may not
      // exist); AudioSystem's provider registry primes on first use;
      // STUB: a COMPRESSED-video codec (H.26x) would open here too —
      // MJPEG and raw BI_RGB AVI frames already decode for real via
      // decodeAviFrame
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val sum = m.content.foldLeft(0L)((a, b) => a + (b & 0xff))
        val (w, h) =
          if (m.kind == "image") {
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(m.content))
              catch { case _: Exception => null }
            if (img != null) (img.getWidth, img.getHeight) else (0, 0)
          } else (0, 0)
        val (rate, durMs) =
          if (m.kind == "audio") {
            // ByteArrayInputStream supports mark/reset, which the
            // provider probe requires; header-only parse, no PCM decode
            try {
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(m.content))
              try {
                val f = ais.getFormat
                val frames = ais.getFrameLength
                val r = f.getSampleRate
                if (r > 0 && frames >= 0)
                  (r.toInt, (frames * 1000.0 / r).toLong)
                else (0, 0L)
              } finally ais.close()
            } catch { case _: Exception => (0, 0L) }
          } else if (m.kind == "video")
            // container-level parse is real (ftyp/moov/mvhd box walk);
            // STUB: MP4 pixel decode would need a COMPRESSED-video codec
            // (H.26x) the JDK lacks — a real frame reader would open at
            // the per-partition init. AVI pixels are NOT stubbed: MJPEG
            // and raw BI_RGB frames decode for real (decodeAviFrame)
            (0, parseMp4(m.content).map(_.durationMs).getOrElse(0L))
          else (0, 0L)
        Decoded(m.mediaId, m.kind, m.content.length,
          sum.toDouble / m.content.length,
          m.content.foldLeft(1125899906842597L)((a, b) => 31 * a + (b & 0xff)),
          w, h, rate, durMs)
      }
    }
  }

  /** Feature extraction over RAW bytes: binary → fixed-dim float
    * embedding via a documented deterministic projection (strided
    * byte sums — no RNG, no model), so the m-family pipeline runs end
    * to end on any media kind. A real model forward pass swaps in at
    * exactly this seam (same signature, same batch shape); for media
    * whose DECODE is real, prefer [[featuresPcm]], which projects the
    * decoded samples instead of the container bytes. Batch shape
    * matches a model server: one buffer per partition, vectorized
    * inner loop. */
  def features(media: Dataset[MediaRow], dim: Int = 16): Dataset[Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val emb = Array.tabulate(dim) { d =>
          var acc = 0.0f
          var i = d
          while (i < m.content.length) {
            acc += ((m.content(i) & 0xff) - 125.5f) / 125.5f
            i += dim
          }
          acc
        }
        Features(m.mediaId, emb)
      }
    }
  }

  /** One long-form feature cell from [[featuresPcm]]: dimension `d`'s
    * exact integer projection value for one clip. */
  final case class PcmFeature(mediaId: Long, d: Int, v: Long)

  /** Decode a clip's 16-bit mono LE PCM samples, or empty when the
    * bytes aren't that (or aren't decodable at all). Two paths, one
    * contract:
    *
    *  - FAST PATH for RIFF/WAVE: parse the `fmt ` chunk directly off
    *    the existing [[riffWalk]] (format tag 1 = integer PCM, mono,
    *    16-bit; WAV is little-endian by definition) and read the
    *    `data` chunk bytes as samples. Measured: the general path
    *    below costs ~5 ms/clip in `AudioSystem`'s per-stream provider
    *    probe — 25× the actual decode work at MediaBench's 100k-clip
    *    point — and a 100 TB ingest is overwhelmingly WAV-shaped
    *    exactly where this matters.
    *  - GENERAL PATH otherwise (AIFF/AU/extensible-WAV): javax.sound
    *    provider probe + format check, as before.
    *
    * Both paths enforce the same PCM_SIGNED/16-bit/mono/LE contract;
    * `MultimodalSpec` pins byte-for-byte sample equality between them
    * on the WAV fixtures. */
  private[multimodal] def pcmSamples(bytes: Array[Byte]): Array[Int] = {
    def fourcc(off: Int): String = new String(bytes, off, 4, "ISO-8859-1")
    def u16le(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def toSamples(cs: Int, ce: Int): Array[Int] =
      Array.tabulate((ce - cs) / 2) { j =>
        (bytes(cs + 2 * j) & 0xff) | (bytes(cs + 2 * j + 1).toInt << 8)
      }
    val fast: Option[Array[Int]] =
      if (bytes.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "WAVE") {
        val chunks = riffWalk(bytes, 12, bytes.length)
        chunks.collectFirst {
          case ("fmt ", s, e) if e - s >= 16 &&
              (u16le(s), u16le(s + 2), u16le(s + 14)) == ((1, 1, 16)) => s
        }.flatMap { _ =>
          // fmt matched but NO well-formed data chunk (streaming-written
          // WAVs with placeholder/oversized size fields that riffWalk
          // rejects): fall THROUGH to the general path — AudioSystem may
          // still decode the available frames, and the two paths must
          // stay contract-identical on the same bytes (ADVICE r14)
          chunks.collectFirst { case ("data", ds, de) => toSamples(ds, de) }
        }
        // other fmt tags (extensible, float, multi-channel) fall to the
        // general path, which applies the same final contract
      } else None
    fast.getOrElse {
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val f = ais.getFormat
          if (f.getEncoding ==
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
              f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
              !f.isBigEndian) {
            val b = ais.readAllBytes()
            Array.tabulate(b.length / 2) { j =>
              (b(2 * j) & 0xff) | (b(2 * j + 1).toInt << 8)
            }
          } else Array.empty[Int]
        } finally ais.close()
      } catch { case _: Exception => Array.empty[Int] }
    }
  }

  /** Feature extraction over REAL DECODED AUDIO SAMPLES: each clip's
    * content is decoded by `javax.sound` (genuine WAV/AIFF/AU parse +
    * PCM read — the m4 decode path), the 16-bit mono little-endian
    * samples are projected to `dim` values with a SEEDED DETERMINISTIC
    * projection matrix R(d, j) = ((d+1)·(j+7)) mod 101 − 50 — a fixed
    * pseudo-random ±50 pattern, the standard random-projection shape
    * with the randomness replaced by an explicit integer formula so
    * both engines (and any rerun) compute the SAME embedding exactly:
    * emb[d] = Σⱼ sample_j · R(d, j), all long arithmetic, no floats.
    * This retires the model-forward stub for the audio path — the
    * pipeline is runnable end to end on real decoded samples; a real
    * encoder model swaps in at this seam with the same long-form
    * output shape. Clips that fail the decode (or aren't 16-bit mono
    * LE PCM) yield no rows, the [[frameSampleAvi]] convention.
    * Partition-parallel, no shuffle; the m6 driver gate recomputes the
    * projection algebraically from the fixture's sample generator. */
  def featuresPcm(media: Dataset[MediaRow], dim: Int = 4): Dataset[PcmFeature] = {
    import media.sparkSession.implicits._
    require(dim > 0, s"dim must be positive: $dim")
    media.mapPartitions { it =>
      it.filter(_.kind == "audio").flatMap { m =>
        val samples = pcmSamples(m.content)
        if (samples.isEmpty) Seq.empty
        else (0 until dim).map { d =>
          var acc = 0L
          var j = 0
          while (j < samples.length) {
            acc += samples(j).toLong * (((d + 1L) * (j + 7L)) % 101L - 50L)
            j += 1
          }
          PcmFeature(m.mediaId, d, acc)
        }
      }
    }
  }

  /** One long-form pixel-feature cell from [[featuresPixels]] /
    * [[featuresFrames]]: dimension `d`'s exact integer projection for
    * one image (frameIdx = −1) or one sampled video frame. */
  final case class PixelFeature(mediaId: Long, frameIdx: Int, d: Int,
      v: Long)

  /** The m6 seeded projection coefficient — R(d, j) = ((d+1)(j+7))
    * mod 101 − 50, a fixed pseudo-random ±50 pattern shared by the
    * audio, image and frame projections so every modality's feature
    * seam is the same documented formula. */
  @inline private def projCoef(d: Int, j: Long): Long =
    ((d + 1L) * (j + 7L)) % 101L - 50L

  /** The raster projection both pixel-feature operators share:
    * emb[d] = Σ_p pixVal(p) · R(d, p) over row-major pixel index
    * p = y·w + x, with pixVal = r + g + b of the DECODED raster —
    * all long arithmetic, no floats. */
  private def projectRaster(img: java.awt.image.BufferedImage,
      dim: Int): Array[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Long](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val pv = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val p = y.toLong * w + x
        var d = 0
        while (d < dim) { out(d) += pv * projCoef(d, p); d += 1 }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Feature extraction over REAL DECODED PIXELS — the m6
    * ([[featuresPcm]]) pattern applied to images: each image's content
    * is decoded by ImageIO (genuine PNG/JPEG/GIF/BMP codec — the m1
    * decode path) and the raster is projected to `dim` exact integer
    * values by the shared seeded matrix. This retires the
    * model-forward stub for the image path; a real vision encoder
    * swaps in at this seam with the same long-form output shape.
    * Images that fail the decode yield no rows (the [[featuresPcm]]
    * convention). Partition-parallel, no shuffle. */
  def featuresPixels(media: Dataset[MediaRow],
      dim: Int = 4): Dataset[PixelFeature] = {
    import media.sparkSession.implicits._
    require(dim > 0, s"dim must be positive: $dim")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      it.filter(_.kind == "image").flatMap { m =>
        val img =
          try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.content))
          catch { case _: Exception => null }
        if (img == null) Seq.empty
        else {
          val emb = projectRaster(img, dim)
          (0 until dim).map(d => PixelFeature(m.mediaId, -1, d, emb(d)))
        }
      }
    }
  }

  /** Feature extraction over SAMPLED VIDEO FRAMES (MJPEG-in-AVI): the
    * [[frameSampleAvi]] sampling rule (k evenly spaced `00dc` chunks,
    * per-frame ImageIO JPEG decode on the executor) feeding the same
    * raster projection as [[featuresPixels]] — one long-form row per
    * (clip, sampled frame, dimension). JPEG is lossy, so no SQL oracle
    * can recompute the raster; `MultimodalSpec` pins the output
    * against a direct local decode of the same fixture instead (the
    * m5 checksum convention). Frames that fail the JPEG decode yield
    * no rows. */
  def featuresFrames(media: Dataset[MediaRow], k: Int,
      dim: Int = 4): Dataset[PixelFeature] = {
    import media.sparkSession.implicits._
    require(k > 0 && dim > 0, s"bad featuresFrames request: k=$k dim=$dim")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.filter(_.kind == "video").flatMap { m =>
        val chunks = aviFrameChunks(m.content)
        val dib = aviDibInfo(m.content) // once per clip, not per frame
        val n = chunks.length
        if (n == 0) Seq.empty
        else (0 until k).flatMap { i =>
          val (cs, ce) = chunks(i * n / k)
          val img = decodeAviFrame(m.content, cs, ce, dib)
          if (img == null) Seq.empty
          else {
            val emb = projectRaster(img, dim)
            (0 until dim).map(d => PixelFeature(m.mediaId, i, d, emb(d)))
          }
        }
      }
    }
  }

  /** The deterministic per-id gradient raster the image fixtures
    * share — r = (k·53 + x·3) mod 256, g = (k·29 + y·5) mod 256,
    * b = (k·17 + x + y) mod 256 (the AVI fixture's gradient, keyed by
    * media id instead of frame). */
  private def gradientImage(k: Long, width: Int,
      height: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y,
          (((k * 53 + x * 3) % 256).toInt << 16) |
            (((k * 29 + y * 5) % 256).toInt << 8) |
            ((k * 17 + x + y) % 256).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, buf)
    buf.toByteArray
  }

  /** Minimal GENUINE image bytes with the deterministic gradient
    * raster, encoded by ImageIO's writer for `format` ("png" or
    * "bmp" — both lossless for TYPE_INT_RGB, so the raster
    * round-trips exactly and the m7/m8 oracles recompute every pixel
    * algebraically). */
  def imageFixture(k: Long, width: Int, height: Int,
      format: String = "png"): Array[Byte] = {
    require(width > 0 && height > 0, s"bad image fixture: ${width}x$height")
    encodeImage(gradientImage(k, width, height), format)
  }

  /** [[imageFixture]]'s PNG form (the m7 gate's fixture). */
  def pngFixture(k: Long, width: Int, height: Int): Array[Byte] =
    imageFixture(k, width, height, "png")

  /** Seeded pseudo-noise raster for the PERCEPTUAL-hash fixtures. A
    * smooth gradient is useless here: its adjacent-block differences
    * are seed-INDEPENDENT (constant slope), so dHash collapses all
    * seeds to a handful of values (measured: 17 gradient seeds → 5
    * hashes). This raster gives every seed its own mod-256 slope —
    * base v = A_seed·(19x + 257y + 1) mod 256 with A_seed an odd
    * seed-dependent multiplier (odd ⇒ invertible ⇒ 17 seeds give 17
    * distinct slopes), channels g/b nonlinear remixes of v — so block
    * means differ per seed and dHash separates the families. */
  private def noiseImage(k: Long, width: Int,
      height: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val a = (((k + 1) * 2654435761L) & 0xffffffffL) | 1L
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = ((a * (19L * x + 257L * y + 1L)) % 256L).toInt
        val g = (v * 7 + 31) % 256
        val b = (v * 13 + 101) % 256
        img.setRGB(x, y, (v << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** The m9 base fixture: [[noiseImage]] encoded as PNG (lossless). */
  def noiseFixture(k: Long, width: Int, height: Int): Array[Byte] =
    encodeImage(noiseImage(k, width, height), "png")

  /** The noise raster with a SUM-PRESERVING single-pixel perturbation:
    * inside dHash's block (0,0) (pixels x,y < 2 for an 18×16 fixture),
    * pick the first pixel whose green/blue channels admit a
    * counter-shift (g+delta, b−delta — or the opposite signs — both
    * staying in [0,255]) and apply it. The pixel's grayscale r+g+b is
    * UNCHANGED, so every dHash block sum — and hence [[dHash64]] — is
    * PROVABLY identical to the unperturbed raster's, while the raster
    * bytes differ: the m9 fixture's near-duplicate images, which no
    * byte- or raster-exact hash can group. */
  def perturbedImageFixture(seed: Long, delta: Int, width: Int,
      height: Int, format: String = "png"): Array[Byte] = {
    require(delta >= 1 && delta <= 4, s"delta out of safe range: $delta")
    require(width >= 18 && height >= 16,
      s"fixture too small for the block-(0,0) perturbation: ${width}x$height")
    val img = noiseImage(seed, width, height)
    val pick = Seq((0, 0), (0, 1), (1, 0), (1, 1)).iterator.map {
      case (x, y) =>
        val rgb = img.getRGB(x, y)
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        if (g <= 255 - delta && b >= delta) Some((x, y, g + delta, b - delta))
        else if (g >= delta && b <= 255 - delta)
          Some((x, y, g - delta, b + delta))
        else None
    }.collectFirst { case Some(p) => p }
    val (x, y, g2, b2) = pick.getOrElse(throw new IllegalStateException(
      s"no perturbable pixel in block (0,0) for seed $seed delta $delta"))
    img.setRGB(x, y, (img.getRGB(x, y) & 0xff0000) | (g2 << 8) | b2)
    encodeImage(img, format)
  }

  /** Raster whose [[dHash64]] is EXACTLY `bits` — the m16 fixture.
    * The canvas is gw·cell × gh·cell (9×8 cells of cell² pixels), so
    * every dHash block boundary (c·w/9, r·h/8) lands on a cell edge
    * and each block mean is exactly its cell's uniform gray level.
    * Per row the levels are a greedy walk: start at 128, step −3 when
    * the target bit says left > right, +3 otherwise (8 steps × 3 stays
    * within [104, 152] ⊂ [0, 255]); pixels are r=g=b=L so the
    * grayscale sum is 3L and every comparison is strict by ±9 per
    * block — no ties, no rounding, any lossless codec round-trips it.
    * This makes hamming structure between fixtures a pure function of
    * the chosen bit patterns, which is what lets the m16 oracle know
    * every cluster algebraically. */
  def bitPatternImage(bits: Long,
      cell: Int = 4): java.awt.image.BufferedImage = {
    require(cell >= 1, s"bad cell size: $cell")
    val (gw, gh) = (9, 8)
    val img = new java.awt.image.BufferedImage(
      gw * cell, gh * cell, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < gh) {
      var level = 128
      var c = 0
      while (c < gw) {
        val rgb = (level << 16) | (level << 8) | level
        var y = r * cell
        while (y < (r + 1) * cell) {
          var x = c * cell
          while (x < (c + 1) * cell) {
            img.setRGB(x, y, rgb); x += 1
          }
          y += 1
        }
        // bit (r, c) = 1 ⟺ mean(block c) > mean(block c+1)
        if (c < gw - 1)
          level += (if (((bits >>> (r * (gw - 1) + c)) & 1L) == 1L) -3 else 3)
        c += 1
      }
      r += 1
    }
    img
  }

  /** [[bitPatternImage]] encoded as `format` ("png" or "bmp" — both
    * lossless for TYPE_INT_RGB ⇒ dHash64 == bits either way; the m20
    * manifest renders both to make byte-distinct raster-equal
    * twins). */
  def bitPatternFixture(bits: Long, cell: Int = 4,
      format: String = "png"): Array[Byte] =
    encodeImage(bitPatternImage(bits, cell), format)

  /** One decoded-raster content signature: md5 over (width, height,
    * row-major RGB bytes) — content identity AFTER decode, so the
    * same pixels encoded as PNG vs BMP (or recompressed) hash EQUAL
    * where any byte-level checksum differs. The image analogue of
    * t1's normalized-text content hash. */
  final case class RasterSig(mediaId: Long, width: Int, height: Int,
      sig: String)

  /** Decode `bytes` and hash the canonical raster — the one signature
    * computation [[rasterSignature]] (batch) and the streaming media
    * dedup share. None when no installed codec can decode the bytes. */
  def rasterSigOf(bytes: Array[Byte]): Option[(Int, Int, String)] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val w = img.getWidth
      val h = img.getHeight
      md.update(java.nio.ByteBuffer.allocate(8).putInt(w).putInt(h).array())
      val row = new Array[Byte](3 * w)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          row(3 * x) = ((rgb >> 16) & 0xff).toByte
          row(3 * x + 1) = ((rgb >> 8) & 0xff).toByte
          row(3 * x + 2) = (rgb & 0xff).toByte
          x += 1
        }
        md.update(row)
        y += 1
      }
      Some((w, h, md.digest().map("%02x".format(_)).mkString))
    }
  }

  /** Partition-parallel raster signatures — decode via ImageIO, hash
    * the canonical raster. Images that fail the decode yield no rows
    * (the [[featuresPixels]] convention). */
  def rasterSignature(media: Dataset[MediaRow]): Dataset[RasterSig] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.filter(_.kind == "image").flatMap { m =>
        rasterSigOf(m.content).map { case (w, h, sig) =>
          RasterSig(m.mediaId, w, h, sig)
        }.toSeq
      }
    }
  }

  /** 64-bit DIFFERENCE HASH (dHash) of a decoded raster — the
    * standard perceptual near-dup hash: box-downsample the grayscale
    * (r+g+b) plane to a 9×8 grid with EXACT integer block sums
    * (bounds x0 = c·w/9 etc., no float resampling), then bit
    * (r, c) = 1 iff mean(block r,c) > mean(block r,c+1), compared by
    * integer cross-multiplication so unequal block sizes never need a
    * division. Deterministic, codec-independent (any lossless decode
    * of the same raster hashes equal), and stable under small
    * pixel-level perturbations — what byte/raster-exact hashes cannot
    * give. Returns None for images smaller than the grid. */
  def dHash64(img: java.awt.image.BufferedImage): Option[Long] = {
    val (gw, gh) = (9, 8)
    val w = img.getWidth
    val h = img.getHeight
    if (w < gw || h < gh) None
    else {
      val sums = Array.ofDim[Long](gh, gw)
      val ns = Array.ofDim[Long](gh, gw)
      var r = 0
      while (r < gh) {
        var c = 0
        while (c < gw) {
          val x0 = c * w / gw; val x1 = (c + 1) * w / gw
          val y0 = r * h / gh; val y1 = (r + 1) * h / gh
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          sums(r)(c) = s
          ns(r)(c) = (x1 - x0).toLong * (y1 - y0)
          c += 1
        }
        r += 1
      }
      var bits = 0L
      r = 0
      while (r < gh) {
        var c = 0
        while (c < gw - 1) {
          // mean(c) > mean(c+1) via cross-multiplication (exact)
          if (sums(r)(c) * ns(r)(c + 1) > sums(r)(c + 1) * ns(r)(c))
            bits |= 1L << (r * (gw - 1) + c)
          c += 1
        }
        r += 1
      }
      Some(bits)
    }
  }

  final case class ImageHash(mediaId: Long, dhash: Long)

  /** Decode `bytes` and dHash the raster — the ONE bytes→perceptual-
    * key computation the batch [[dHash]] operator and the streaming
    * doors share (the [[audioHashOf]] discipline for images): None
    * when no codec decodes the bytes or the image is below the hash
    * grid. Callers should have ImageIO's disk cache off
    * (per-partition `setUseCache(false)`). */
  def imageHashOf(bytes: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None else dHash64(img)
  }

  /** Partition-parallel dHash over an image stream — decode + hash,
    * no shuffle; grouping equal hashes downstream is exact-dedup
    * machinery (t1's shape) applied to a PERCEPTUAL key. */
  def dHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.filter(_.kind == "image").flatMap { m =>
        imageHashOf(m.content).map(ImageHash(m.mediaId, _)).toSeq
      }
    }
  }

  /** Hamming-tolerant PERCEPTUAL CLUSTERS over image dHashes — the
    * media analogue of the text tier's near-dup clustering (t32):
    * m9's exact-equality grouping misses re-encodes that move a
    * handful of gradient signs, and pairwise hamming comparison is the
    * quadratic non-starter. Band-split LSH instead: each 64-bit hash
    * splits into `bands` equal slices; by pigeonhole any pair within
    * hamming distance ≤ bands−1 shares at least one EXACT band, so for
    * `maxDist < bands` the bucket-keyed equi self-join generates every
    * qualifying pair (this is exact candidate generation, not
    * approximate — the screen only ever ADDS far pairs, which the
    * popcount filter removes). Edges = candidates with
    * bit_count(h1 ^ h2) ≤ maxDist; components resolve transitivity by
    * min-label propagation ([[graft.ops.ConnectedComponents]]).
    *
    * Scale shape: one narrow projection per hash (bands rows), one
    * (band, bval)-keyed equi-join — never a cartesian — a codegen'd
    * popcount filter, and a CC loop whose state is one row per
    * edge-touched node. Hot buckets (a constant band value over a
    * mono-colored corpus) are the same pathology as t2's hot LSH
    * buckets; callers feeding adversarial corpora should pre-screen
    * bucket sizes the t10 way. Input: (mediaId, dhash). Output:
    * (media_id, cluster_id) with cluster_id = min media_id of the
    * component. */
  def dHashClusters(hashed: DataFrame, maxDist: Int = 2,
      bands: Int = 4): DataFrame =
    graft.ops.ConnectedComponents
      .labels(dHashEdges(hashed, maxDist, bands), "d1", "d2",
        hashed.select("mediaId"), "mediaId")
      .select(col("id").as("media_id"), col("label").as("cluster_id"))

  /** [[dHashClusters]]' edge feed, exposed for the plan contract (the
    * CC loop executes eagerly, so the cluster frame's own plan is a
    * checkpoint scan — the shape that must never regress lives here):
    * (d1, d2) pairs with hamming(h1, h2) ≤ maxDist, generated by the
    * band-keyed equi-join. */
  /** The ONE band-split projection every hamming screen rides
    * ([[dHashEdges]], [[dHashProbe]], the streaming door): input
    * (mediaId, dhash) → one row per (band, bval) slice. Exactness
    * contract checked by [[requireBandScreen]]. */
  private[graft] def bandSlices(df: DataFrame, bands: Int): DataFrame = {
    val bw = 64 / bands
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    // keeps the caller's other columns (the streaming door carries an
    // event-time column through the split)
    df.select(col("*"),
      posexplode(array((0 until bands).map(i =>
        shiftrightunsigned(col("dhash"), i * bw).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bval")))
  }

  /** The pigeonhole exactness contract shared by every band screen. */
  private[graft] def requireBandScreen(maxDist: Int, bands: Int): Unit = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64: $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"band screen is only exact for maxDist < bands: $maxDist/$bands")
  }

  def dHashEdges(hashed: DataFrame, maxDist: Int, bands: Int): DataFrame = {
    requireBandScreen(maxDist, bands)
    val slices = bandSlices(hashed, bands)
    slices.as("a")
      .join(slices.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.mediaId") < col("b.mediaId"))
      .select(col("a.mediaId").as("d1"), col("a.dhash").as("h1"),
        col("b.mediaId").as("d2"), col("b.dhash").as("h2"))
      // popcount BEFORE distinct: the filter is a codegen'd per-row
      // scan, the distinct a shuffle — screen the far pairs out before
      // paying the exchange, not after
      .filter(expr(s"bit_count(h1 ^ h2) <= $maxDist"))
      .distinct()
  }

  /** ASYMMETRIC hamming probe — the t38 ingest-delta shape for the
    * perceptual tier: a small `delta` batch probes a standing `corpus`
    * band index instead of re-pairing the whole corpus against itself.
    * Same band-split screen as [[dHashEdges]] (exact for
    * maxDist < bands), but only delta×corpus candidates are ever
    * generated — cost scales with |delta| × bucket occupancy, not
    * |corpus|². At 100 TB the corpus side is the persisted bucketed
    * band index (write once, bucketed by (band, bval) — the t38b
    * discipline); here both sides derive from frames. Inputs:
    * (mediaId, dhash) each. Output: (delta_id, corpus_id) hit pairs
    * within hamming ≤ maxDist. */
  def dHashProbe(delta: DataFrame, corpus: DataFrame, maxDist: Int,
      bands: Int): DataFrame = {
    requireBandScreen(maxDist, bands)
    bandSlices(delta, bands).as("a")
      .join(bandSlices(corpus, bands).as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval"))
      .select(col("a.mediaId").as("delta_id"), col("a.dhash").as("h1"),
        col("b.mediaId").as("corpus_id"), col("b.dhash").as("h2"))
      // popcount before distinct — the dHashEdges ordering argument
      .filter(expr(s"bit_count(h1 ^ h2) <= $maxDist"))
      .select(col("delta_id"), col("corpus_id"))
      .distinct()
  }

  /** 64-bit block-mean hash (aHash) of a decoded PCM sample stream —
    * the audio analogue of [[dHash64]]: split the samples into 64
    * equal blocks (exact integer bounds i·n/64), bit b = 1 iff block
    * b's mean exceeds the GLOBAL mean, compared by integer
    * cross-multiplication (sum_b · n > total · n_b) so nothing is
    * ever divided. Deterministic, codec-independent for lossless
    * audio, stable under per-block sum-preserving perturbations.
    * None for clips shorter than 64 samples. */
  def aHash64Pcm(samples: Array[Int]): Option[Long] = {
    val n = samples.length
    if (n < 64) None
    else {
      var total = 0L
      var j = 0
      while (j < n) { total += samples(j); j += 1 }
      // |s| ≤ 2^15·(n/64+1), so |s·n| ≲ 2^10·n² — the long
      // cross-multiply is exact only below n ≈ 2^26.5; longer clips
      // (hours of audio) take the BigInt comparison, same rule
      val exactLong = n <= (1 << 26)
      var bits = 0L
      var b = 0
      while (b < 64) {
        val j0 = b * n / 64
        val j1 = (b + 1) * n / 64
        var s = 0L
        var i = j0
        while (i < j1) { s += samples(i); i += 1 }
        val gt =
          if (exactLong) s * n > total * (j1 - j0)
          else BigInt(s) * n > BigInt(total) * (j1 - j0)
        if (gt) bits |= 1L << b
        b += 1
      }
      Some(bits)
    }
  }

  final case class AudioHash(mediaId: Long, ahash: Long)

  /** One clip's perceptual audio hash straight from bytes — decode
    * (PCM contract) + [[aHash64Pcm]], the single definition
    * [[audioHash]] (batch) and the streaming audio dedup share. None
    * when the bytes don't decode or the clip is shorter than the
    * hash's 64 blocks. */
  def audioHashOf(bytes: Array[Byte]): Option[Long] =
    aHash64Pcm(pcmSamples(bytes))

  /** md5 of the canonical little-endian 16-bit render of a PCM sample
    * array — the ONE exact-audio-identity definition ([[audioKeysOf]]),
    * the audio analogue of [[rasterSignature]]: container-level byte
    * differences that decode to the same PCM hash equal. */
  private def pcmMd5(s: Array[Int]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](2 * s.length)
    var j = 0
    while (j < s.length) {
      buf(2 * j) = (s(j) & 0xff).toByte
      buf(2 * j + 1) = ((s(j) >> 8) & 0xff).toByte
      j += 1
    }
    md.update(buf)
    md.digest().map("%02x".format(_)).mkString
  }

  /** BOTH audio-manifest keys off ONE decode: the exact PCM signature
    * (m26 tier 1) and the m18 perceptual hash (tier 2) from the same
    * sample array, so a manifest door pays one container parse per
    * clip instead of two. None when the bytes decode to no PCM or the
    * clip is shorter than [[aHash64Pcm]]'s 64 blocks — such clips have
    * an exact identity but no perceptual one, and the manifest
    * composition needs both (a real door routes them to the
    * exact-only dedup tier; the m26 fixture universe has none). */
  def audioKeysOf(bytes: Array[Byte]): Option[(Int, String, Long)] = {
    val s = pcmSamples(bytes)
    aHash64Pcm(s).map(h => (s.length, pcmMd5(s), h))
  }

  /** One-decode (mediaId, sig, ahash) projection over a media frame —
    * STREAMING-SAFE (stateless mapPartitions): persisted at the door
    * this IS the standing state [[audioManifest]] composes at publish
    * time. Batch m26 runs the same projection, so the two tiers share
    * every key definition. */
  def audioManifestKeys(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.kind == "audio").flatMap { m =>
        audioKeysOf(m.content).map { case (_, sig, h) => (m.mediaId, sig, h) }
      }
    }.toDF("media_id", "sig", "ahash")
  }

  /** The m26 AUDIO-MANIFEST composition over an accumulated
    * (media_id, sig, ahash) key table — ONE definition shared by the
    * batch gate and the streaming finalize (the starEdgesOfBands
    * convention), so the two cannot drift: (1) exact keeper = min
    * media_id per PCM signature; (2) m18 band-hamming clusters over
    * the KEEPERS' perceptual hashes; (3) per-clip verdict carrying
    * the keeper's cluster. The sig window is key-partitioned
    * (fan-in = duplication depth); the cluster pass inherits
    * [[dHashClusters]]' banded-join scale shape. */
  def audioManifest(keys: DataFrame): DataFrame = {
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    // checkpoint: the keeper-window frame feeds BOTH the cluster build
    // (through dHashClusters' materialization) and the verdict join —
    // without it the corpus-wide sig window computes twice per finalize
    val exact = keys
      .select(col("media_id"), col("sig"), col("ahash"))
      .withColumn("exact_keeper", min("media_id").over(wSig))
      .localCheckpoint()
    val clusters = dHashClusters(
      exact.filter(col("media_id") === col("exact_keeper"))
        .select(col("media_id").as("mediaId"), col("ahash").as("dhash")),
      maxDist = 2, bands = 4)
      .select(col("media_id").as("ck"), col("cluster_id"))
    exact
      .join(clusters, col("exact_keeper") === col("ck"))
      .select(col("media_id"), col("exact_keeper"), col("cluster_id"),
        when(col("media_id") =!= col("exact_keeper"), "exact_dup")
          .when(col("media_id") === col("cluster_id"), "representative")
          .otherwise("near_dup").as("verdict"))
  }

  /** Partition-parallel audio perceptual hash: decode 16-bit mono LE
    * PCM (the [[featuresPcm]] contract) and [[aHash64Pcm]] it. Clips
    * that fail the decode or are shorter than 64 samples yield no
    * rows. Grouping equal hashes downstream is t1's exact-dedup
    * machinery on a perceptual audio key — the m9 story, audio
    * edition. */
  def audioHash(media: Dataset[MediaRow]): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.kind == "audio").flatMap { m =>
        audioHashOf(m.content).map(AudioHash(m.mediaId, _)).toSeq
      }
    }
  }

  /** Seeded pseudo-noise PCM for the audio-hash fixtures (the
    * [[noiseImage]] idea in one dimension): sample j =
    * A_seed·(19j + 1) mod 4096 − 2048 with A_seed an odd
    * seed-dependent multiplier — every seed gets its own mod-4096
    * slope, so block means vary per seed and [[aHash64Pcm]] separates
    * the families. `delta` applies a SUM-PRESERVING perturbation
    * (+delta at sample 0, −delta at sample 1 — the same block for any
    * n ≥ 128, values bounded ±2052 ≪ 16-bit range): every block sum
    * AND the global sum are unchanged, so the hash is PROVABLY that of
    * the unperturbed clip while the PCM differs. Encoded as genuine
    * 16-bit mono LE WAV by the same javax.sound writer the decoder
    * reads back. */
  def wavNoiseFixture(seed: Long, frames: Int, delta: Int = 0,
      rate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    require(frames >= 128, s"fixture too short for the perturbation: $frames")
    require(delta >= 0 && delta <= 4, s"delta out of safe range: $delta")
    val a = (((seed + 1) * 2654435761L) & 0xffffffffL) | 1L
    val pcm = new Array[Byte](frames * 2)
    var j = 0
    while (j < frames) {
      var s = ((a * (19L * j + 1L)) % 4096L).toInt - 2048
      if (j == 0) s += delta
      if (j == 1) s -= delta
      pcm(2 * j) = (s & 0xff).toByte
      pcm(2 * j + 1) = ((s >> 8) & 0xff).toByte
      j += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
    buf.toByteArray
  }

  /** Image resize request: pure metadata transform (the byte transform
    * is the decode stub's job); keeps aspect ratio like a real
    * thumbnailer. No shuffle. */
  def resizePlan(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = least(lit(1.0), lit(maxSide) / greatest(w, h).cast("double"))
    media
      .where(col("kind") === "image")
      .withColumn("target_width", ceil(w * scale).cast("int"))
      .withColumn("target_height", ceil(h * scale).cast("int"))
  }

  /** Video frame sampling WITH REAL PIXELS for AVI: the RIFF walk
    * lists the `00dc`/`00db` frame chunks, k evenly spaced ones
    * (`frameNo = i·n/k`) are decoded on the executor through the
    * shared [[decodeAviFrame]] seam — ImageIO's JPEG codec for MJPEG,
    * codec-free raw-BGR for BI_RGB streams — and each sampled frame
    * comes back with its decoded dimensions and a pixel-raster
    * checksum. This retires the video pixel stub for both codec-free
    * coverage points; MP4/H.26x pixel decode remains the honest stub
    * in [[decode]]. Timestamps come from avih's
    * µs/frame. Partition-parallel, no shuffle; clips that fail the
    * container walk or have no frames yield no rows, a frame that
    * fails JPEG decode keeps its row with zero dims (same convention
    * as [[decode]]). */
  /** The rolling RGB checksum every sampled frame carries
    * (AviFrame.pixChecksum) — ONE definition so the batch frame
    * sample, the m19 clip digest, and the streaming clip door key the
    * same pixels identically. */
  private def frameChecksum(img: java.awt.image.BufferedImage): Long = {
    var acc = 1125899906842597L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        acc = 31 * acc + (img.getRGB(x, y) & 0xffffff)
        x += 1
      }
      y += 1
    }
    acc
  }

  /** One clip CONTENT signature: md5 over the sample-order frame
    * checksums of the k evenly spaced frames ([[frameSampleAvi]]'s
    * i·n/k rule, [[frameChecksum]]'s pixels) joined with "," — the
    * exact digest the batch m19 gate assembles from the frame-sample
    * frame (`md5(concat_ws(",", …))` over the frameIdx-ordered
    * checksums), computed per clip for the streaming door. Frames
    * that fail the decode are skipped (the m19 `width > 0` screen);
    * None when the container doesn't parse or NO frame decodes — a
    * clip with no decodable content has no identity (quarantine
    * rule). */
  def clipSigOf(bytes: Array[Byte], k: Int): Option[String] = {
    require(k > 0, s"sample count must be positive: $k")
    if (parseAvi(bytes).isEmpty) None
    else {
      val chunks = aviFrameChunks(bytes)
      val dib = aviDibInfo(bytes)
      val n = chunks.length
      if (n == 0) None
      else {
        val sums = (0 until k).flatMap { i =>
          val (cs, ce) = chunks(i * n / k)
          val img = decodeAviFrame(bytes, cs, ce, dib)
          if (img == null) None else Some(frameChecksum(img))
        }
        if (sums.isEmpty) None
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          md.update(sums.mkString(",").getBytes("UTF-8"))
          Some(md.digest().map("%02x".format(_)).mkString)
        }
      }
    }
  }

  def frameSampleAvi(media: Dataset[MediaRow], k: Int): Dataset[AviFrame] = {
    import media.sparkSession.implicits._
    require(k > 0, s"sample count must be positive: $k")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      it.filter(_.kind == "video").flatMap { m =>
        parseAvi(m.content).toSeq.flatMap { meta =>
          val chunks = aviFrameChunks(m.content)
          val dib = aviDibInfo(m.content) // once per clip, not per frame
          val n = chunks.length
          if (n == 0) Seq.empty
          else (0 until k).map { i =>
            val fno = i * n / k
            val (cs, ce) = chunks(fno)
            val img = decodeAviFrame(m.content, cs, ce, dib)
            val (w, h, sum) =
              if (img == null) (0, 0, 0L)
              else (img.getWidth, img.getHeight, frameChecksum(img))
            AviFrame(m.mediaId, i, fno,
              fno * meta.microSecPerFrame / 1000, w, h, sum)
          }
        }
      }
    }
  }

  /** Video frame sampling: k evenly spaced timestamps per clip from the
    * duration metadata — pure column arithmetic (sequence), one output
    * row per frame via explode; partition count is preserved. */
  def frameSample(media: DataFrame, k: Int): DataFrame =
    media
      .where(col("kind") === "video" && col("meta.durationMs") > 0)
      .select(col("mediaId"), col("meta.durationMs").as("duration_ms"),
        explode(sequence(lit(0), lit(k - 1))).as("frame_idx"))
      .withColumn("frame_ts_ms",
        (col("frame_idx") * col("duration_ms") / k).cast("long"))
}
