package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, processed in batched partition passes (the Scala
  * analog of the `mapInPandas` batch shape), so a partition's payloads
  * never co-reside in memory.
  *
  * - [[imageMeta]] is a deterministic STUB decode (`fakeDecode`, MD5
  *   byte reads) that the DuckDB oracle can replicate.
  * - [[decodeVideoMeta]] is a REAL container read: ISO-BMFF (MP4/MOV)
  *   is length-prefixed boxes, walked in plain JVM code for duration,
  *   timescale, track count and display size, without a codec.
  *   [[syntheticMp4]] generates the fixtures its gate decodes.
  * - Compressed PAYLOAD decode (H.264/AV1 frames, MP3/AAC/Opus) needs a
  *   codec the JDK does not ship, so frame extraction goes through the
  *   pluggable [[MediaDecoder]] boundary ([[decodeFramesWith]]); the
  *   library ships the codec-free [[ChunkFrameDecoder]].
  */
object Multimodal {

  final case class MediaRow(media_id: Long, mime: String,
                            content: Array[Byte])
  final case class ImageMeta(media_id: Long, width: Int, height: Int,
                             channels: Int, n_bytes: Long, fp_prefix: String)

  /** Wrap text rows as fake media blobs (test/data-gen helper). */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
              mime: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        lit(mime).as("mime"),
        col(payloadCol).cast("binary").as("content"))
      .as[MediaRow]
  }

  /** STUB decode: deterministic pseudo metadata from the content's MD5
    * digest (little-endian byte reads, so a SQL oracle can replicate it
    * from `md5_number`). A real deployment swaps this one function for an
    * actual codec. */
  private def fakeDecode(digest: Array[Byte]): (Int, Int, Int) = {
    def b(i: Int): Int = digest(i) & 0xFF
    val w = 64 + b(0) + 256 * (b(1) & 0x3)
    val h = 64 + b(2) + 256 * (b(3) & 0x3)
    (w, h, 3)
  }

  /** Batched metadata extraction: processes rows in fixed-size batches per
    * partition (the mapInPandas batch shape), never holding a partition's
    * blobs in memory at once. */
  def imageMeta(media: Dataset[MediaRow], batchSize: Int = 64)
      : Dataset[ImageMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val digest = md.digest(m.content)
          val (w, h, c) = fakeDecode(digest)
          val fp = digest.take(4).map("%02x".format(_)).mkString
          ImageMeta(m.media_id, w, h, c, m.content.length.toLong, fp)
        }
      }
    }
  }

  final case class VideoDecoded(media_id: Long, brand: String,
                                timescale: Long, duration_sec: Double,
                                track_count: Int, width: Int, height: Int,
                                n_bytes: Long, error: String)

  /** REAL video CONTAINER metadata via a pure-JVM ISO-BMFF box walk
    * (MP4/MOV/M4V — ISO/IEC 14496-12). The format is length-prefixed
    * `[u32 size][4cc type]` boxes, so no codec or demuxer is needed for
    * header-level facts: the major brand from `ftyp`, movie duration
    * and timescale from `moov/mvhd` (version 0 and 1 layouts), track
    * count and display width/height from the `moov/trak/tkhd` boxes
    * (16.16 fixed-point; the first track with a nonzero width is the
    * video track — audio tracks carry 0×0). `mdat` is skipped by its
    * size field, never read. A blob whose first box is not `ftyp`, or
    * with inconsistent box sizes, yields an error row with -1 fields
    * instead of failing the job: at corpus scale some blobs are always
    * mislabeled or corrupt, and one bad row must not kill the pass.
    * Frame EXTRACTION needs a codec the JDK does not ship: see
    * [[decodeFramesWith]]. */
  def decodeVideoMeta(media: Dataset[MediaRow], batchSize: Int = 64)
      : Dataset[VideoDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          try parseBmff(m.media_id, m.content)
          catch {
            case e: Exception =>
              VideoDecoded(m.media_id, null, -1L, -1.0, -1, -1, -1,
                m.content.length.toLong,
                s"malformed container: ${e.getMessage}")
          }
        }
      }
    }
  }

  private def parseBmff(id: Long, a: Array[Byte]): VideoDecoded = {
    def be16(o: Int): Int =
      ((a(o) & 0xFF) << 8) | (a(o + 1) & 0xFF)
    def be32(o: Int): Long =
      ((a(o) & 0xFFL) << 24) | ((a(o + 1) & 0xFFL) << 16) |
        ((a(o + 2) & 0xFFL) << 8) | (a(o + 3) & 0xFFL)
    def be64(o: Int): Long =
      (be32(o) << 32) | be32(o + 4)
    def fourcc(o: Int): String =
      new String(a, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    /** walk child boxes of [start,end), calling f(type, payloadStart,
      * payloadEnd); malformed sizes throw */
    def boxes(start: Int, end: Int)(f: ((String, Int, Int)) => Unit)
        : Unit = {
      var o = start
      while (o < end) {
        if (o + 8 > end) sys.error(s"truncated box header at $o")
        var size = be32(o); var hdr = 8
        val typ = fourcc(o + 4)
        if (size == 1L) {
          if (o + 16 > end) sys.error(s"truncated largesize at $o")
          size = be64(o + 8); hdr = 16
        } else if (size == 0L) size = (end - o).toLong
        if (size < hdr || o + size > end)
          sys.error(s"bad box size $size for '$typ' at $o")
        f((typ, o + hdr, o + size.toInt))
        o += size.toInt
      }
    }
    if (a.length < 8 || fourcc(4) != "ftyp")
      return VideoDecoded(id, null, -1L, -1.0, -1, -1, -1,
        a.length.toLong, "unrecognized video container (no ftyp)")
    var brand: String = null
    var timescale = -1L; var duration = -1L
    var tracks = 0; var width = -1; var height = -1
    boxes(0, a.length) {
      case ("ftyp", s, e) =>
        if (e - s >= 4) brand = fourcc(s).trim
      case ("moov", ms, me) =>
        boxes(ms, me) {
          case ("mvhd", s, e) =>
            val v = a(s) & 0xFF
            if (v == 1) { // 64-bit creation/modification/duration
              if (e - s >= 32) {
                timescale = be32(s + 20); duration = be64(s + 24)
              }
            } else if (e - s >= 20) {
              timescale = be32(s + 12); duration = be32(s + 16)
            }
          case ("trak", ts, te) =>
            tracks += 1
            boxes(ts, te) {
              case ("tkhd", s, e) =>
                val v = a(s) & 0xFF
                val wOff = if (v == 1) 88 else 76
                if (e - s >= wOff + 8) {
                  val w = be16(s + wOff)       // 16.16 fixed, int part
                  val h = be16(s + wOff + 4)
                  if (w > 0 && width < 0) { width = w; height = h }
                }
              case _ =>
            }
          case _ =>
        }
      case _ => // mdat, free, skip by size — never read
    }
    val dur =
      if (duration >= 0 && timescale > 0) duration.toDouble / timescale
      else -1.0
    VideoDecoded(id, brand, timescale, dur, tracks, width, height,
      a.length.toLong, null)
  }

  /** Deterministic minimal ISO-BMFF blob (fixture generator for the
    * p47 gate and specs): a structurally valid MP4 skeleton —
    * `ftyp(isom)` + `moov(mvhd, trak(tkhd)[, trak(tkhd audio)])` +
    * `mdat(16 zero bytes)` — whose header facts are pure functions of
    * the arguments, so an external oracle can predict exactly what
    * [[decodeVideoMeta]] must extract. `timescale` is fixed at 1 so
    * `duration_sec` is the exact integer `durationS` (no float
    * division ambiguity across systems). `v1` selects the 64-bit mvhd
    * layout; `twoTracks` appends a second zero-dimension
    * (audio-shaped) track. Total size: 176 bytes (v0, one track) or
    * 288 (v1, two tracks). */
  def syntheticMp4(durationS: Long, width: Int, height: Int,
                   twoTracks: Boolean, v1: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v >>> 8 & 0xFF); out.write(v & 0xFF) }
    def u32(v: Long): Unit = { u16((v >>> 16).toInt); u16(v.toInt & 0xFFFF) }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xFFFFFFFFL) }
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
    def box(t: String, payload: Int)(body: => Unit): Unit = {
      u32(8L + payload); tag(t); body
    }
    def zeros(n: Int): Unit = (0 until n).foreach(_ => out.write(0))
    def tkhd(w: Int, h: Int): Unit =
      box("trak", 92) {
        box("tkhd", 84) { // v0 layout: width 16.16 at payload+76
          zeros(76); u16(w); u16(0); u16(h); u16(0)
        }
      }
    box("ftyp", 8) { tag("isom"); u32(0L) }
    val mvhdPay = if (v1) 32 else 20
    val moovPay =
      (8 + mvhdPay) + (8 + 92) + (if (twoTracks) 8 + 92 else 0)
    box("moov", moovPay) {
      box("mvhd", mvhdPay) {
        if (v1) { out.write(1); zeros(3); u64(0L); u64(0L)
                  u32(1L); u64(durationS) }
        else    { zeros(4); u32(0L); u32(0L); u32(1L); u32(durationS) }
      }
      tkhd(width, height)
      if (twoTracks) tkhd(0, 0)
    }
    box("mdat", 16) { zeros(16) }
    out.toByteArray
  }

  /** THE CODEC BOUNDARY, made explicit and pluggable: compressed
    * payload decode (H.264/AV1 frames, MP3/AAC/Opus PCM) genuinely
    * needs codecs the JDK does not ship and this library will not
    * vendor. Everything AROUND the codec is this library's job and is
    * real: batching, partition shape, the error-row contract, frame
    * row schema. A deployment drops in a JNI/FFmpeg-backed
    * implementation; the library ships [[ChunkFrameDecoder]] (the
    * deterministic fake — honest about being one) and the spec's
    * failing fake proves the error-row contract holds for ANY
    * implementation.
    *
    * Implementations MUST be cheap to construct and serializable (one
    * instance is shipped to executors and reused across rows of a
    * partition — open native contexts lazily in a transient field).
    * A failed payload returns Left(reason); throwing is also tolerated
    * (caught per row) so native-layer surprises still become error
    * rows, never job failures. */
  trait MediaDecoder extends Serializable {
    /** Decoded frames of one payload (sampled per `everyN` by the
      * caller), or Left(classified reason). */
    def decodeFrames(content: Array[Byte]): Either[String, Iterator[Array[Byte]]]
  }

  /** The shipping fake: fixed-size chunks as "frames". Deterministic
    * and codec-free — exercises every boundary mechanism (batching,
    * sampling, schema) with none of the decoding. */
  final class ChunkFrameDecoder(frameBytes: Int = 256)
      extends MediaDecoder {
    override def decodeFrames(content: Array[Byte])
        : Either[String, Iterator[Array[Byte]]] =
      if (content == null || content.isEmpty) Left("empty payload")
      else Right(content.grouped(frameBytes))
  }

  final case class FrameRow(media_id: Long, frame_no: Int,
                            frame: Array[Byte], error: String)

  /** Frame extraction THROUGH the pluggable boundary: every `everyN`-th
    * decoded frame per payload, as (media_id, frame_no, frame, error)
    * rows. Corrupt/unsupported payloads (Left or throw from the
    * decoder) yield ONE error row for that media_id and the job keeps
    * going — the same corrupt-blob policy as [[decodeVideoMeta]].
    * mapPartitions keeps one decoder instance per partition (native
    * decoders amortize context setup) and only ever holds one
    * payload's frames in memory. */
  def decodeFramesWith(media: Dataset[MediaRow], decoder: MediaDecoder,
                       everyN: Int = 1): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        val decoded =
          try decoder.decodeFrames(m.content)
          catch { case e: Exception =>
            Left(s"decoder threw: ${e.getMessage}") }
        decoded match {
          case Left(reason) =>
            Iterator.single(FrameRow(m.media_id, -1, Array.emptyByteArray,
              s"decode failed: $reason"))
          case Right(frames) =>
            frames.zipWithIndex.collect {
              case (f, i) if i % everyN == 0 => FrameRow(m.media_id, i, f, null)
            }
        }
      }
    }
  }
}
