package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Header-byte video metadata extraction — completes the multimodal
  * header-parsing triad ([[ImageMetaKernel]] images, [[AudioMetaKernel]]
  * audio): container box/chunk walking straight from payload bytes,
  * codec-library-free, codegen'd, and hex-replayable by the DuckDB
  * oracle.
  *
  * Recognizes:
  *  - MP4 (ISO BMFF) — `ftyp` as the first top-level box, then a
  *    SIBLING BOX WALK (sizes big-endian u32; size 1 = 64-bit largesize
  *    at +8; size 0 = to-EOF) to `moov`, whose children yield `mvhd`
  *    (v0: timescale/duration u32 at body+12/+16; v1: u32 at +20 /
  *    u64 at +24) and the first `trak`, whose children yield `tkhd`
  *    (16.16 fixed-point width/height at body+76/+80 for v0, +88/+92
  *    for v1). duration_ms = duration * 1000 / timescale.
  *  - AVI — `RIFF....AVI `, then the word-aligned RIFF chunk walk to
  *    `LIST hdrl`, whose first child must be `avih`: width/height
  *    little-endian u32 at body+32/+36, duration_ms from
  *    microSecPerFrame (body+0) * totalFrames (body+16) / 1000.
  *
  * Unrecognized/truncated payloads yield ('unknown', null, null, null);
  * a recognized container whose parameter boxes are missing/cut yields
  * (fmt, null, null, null).
  */
object VideoMetaKernel {
  private val FmtMp4 = UTF8String.fromString("mp4")
  private val FmtAvi = UTF8String.fromString("avi")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i + 3).toLong << 24) | (u8(b, i + 2) << 16) | (u8(b, i + 1) << 8) | u8(b, i)

  private def row(fmt: UTF8String, w: Any, h: Any, durMs: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, w, h, durMs))

  private def isTag(b: Array[Byte], i: Int, t: String): Boolean =
    i + t.length <= b.length &&
      (0 until t.length).forall(j => u8(b, i + j) == t.charAt(j))

  /** Walk sibling BMFF boxes in [from, to) and return the body-relative
    * position of the first box named `tag`, or -1. `to` is exclusive. */
  private def findBox(b: Array[Byte], from: Long, to: Long, tag: String): Long = {
    var pos = from
    while (pos + 8 <= to) {
      if (isTag(b, pos.toInt + 4, tag)) return pos
      val raw = be32(b, pos.toInt)
      val size =
        if (raw == 1L) { if (pos + 16 > to) return -1L else be64(b, pos.toInt + 8) }
        else if (raw == 0L) to - pos // box extends to end of enclosure
        else raw
      if (size < 8) return -1L // malformed: refuse to loop
      pos += size
    }
    -1L
  }

  private def parseMp4(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    val moov = findBox(b, 0L, n, "moov")
    if (moov < 0) return row(FmtMp4, null, null, null)
    val moovEnd = math.min(n, {
      val raw = be32(b, moov.toInt)
      if (raw == 1L)
        moov + (if (moov + 16 <= n) be64(b, moov.toInt + 8) else 8L)
      else if (raw == 0L) n
      else moov + raw
    })
    // duration from mvhd
    var durMs: Any = null
    val mvhd = findBox(b, moov + 8, moovEnd, "mvhd")
    if (mvhd >= 0 && mvhd + 9 <= n) {
      val body = mvhd.toInt + 8
      val v = u8(b, body)
      if (v == 0 && mvhd + 8 + 20 <= n) {
        val ts = be32(b, body + 12)
        if (ts > 0) durMs = be32(b, body + 16) * 1000L / ts
      } else if (v == 1 && mvhd + 8 + 32 <= n) {
        val ts = be32(b, body + 20)
        if (ts > 0) durMs = be64(b, body + 24) * 1000L / ts
      }
    }
    // dimensions from the first trak's tkhd (16.16 fixed point)
    var w: Any = null
    var h: Any = null
    val trak = findBox(b, moov + 8, moovEnd, "trak")
    if (trak >= 0) {
      val trakEnd = math.min(n, trak + be32(b, trak.toInt))
      val tkhd = findBox(b, trak + 8, trakEnd, "tkhd")
      if (tkhd >= 0 && tkhd + 9 <= n) {
        val body = tkhd.toInt + 8
        val off = if (u8(b, body) == 1) 88 else 76
        if (tkhd + 8 + off + 8 <= n) {
          w = (be32(b, body + off) >> 16).toInt
          h = (be32(b, body + off + 4) >> 16).toInt
        }
      }
    }
    row(FmtMp4, w, h, durMs)
  }

  private def parseAvi(b: Array[Byte]): InternalRow = {
    val n = b.length.toLong
    var pos = 12L
    while (pos + 8 <= n) {
      val size = le32(b, pos.toInt + 4)
      if (isTag(b, pos.toInt, "LIST") && isTag(b, pos.toInt + 8, "hdrl")) {
        // first child of LIST hdrl must be the avih chunk
        val c = pos.toInt + 12
        if (c + 8 + 40 <= n && isTag(b, c, "avih")) {
          val body = c + 8
          val usPerFrame = le32(b, body)
          val frames = le32(b, body + 16)
          return row(FmtAvi, le32(b, body + 32).toInt, le32(b, body + 36).toInt,
            usPerFrame * frames / 1000L)
        }
        return row(FmtAvi, null, null, null)
      }
      pos += 8L + size + (size & 1L) // chunks are word-aligned; Long math
    }
    row(FmtAvi, null, null, null)
  }

  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return row(FmtUnknown, null, null, null)
    val n = bytes.length
    if (n >= 12 && isTag(bytes, 4, "ftyp")) return parseMp4(bytes)
    if (n >= 12 && isTag(bytes, 0, "RIFF") && isTag(bytes, 8, "AVI "))
      return parseAvi(bytes)
    row(FmtUnknown, null, null, null)
  }
}

/** `video_meta(binary)` -> struct(format string, width int, height int,
  * duration_ms long). Codegen'd call into the row-local
  * [[VideoMetaKernel]]; null payload -> null struct. */
case class VideoMeta(child: Expression) extends MediaMeta {

  override protected def parse(bytes: Array[Byte]): InternalRow = VideoMetaKernel.parse(bytes)

  override protected def parseCall: String = "graft.sql.VideoMetaKernel.parse"

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  override def prettyName: String = "video_meta"

  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}
