package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Header-byte audio metadata extraction — the audio twin of
  * [[ImageMetaKernel]]: container signature + stream parameters straight
  * from the first bytes of the payload, codec-library-free and therefore
  * expressible as a codegen'd row-local kernel (and replayable byte-for-
  * byte by an engine that can only see hex — the DuckDB oracle).
  *
  * Recognizes:
  *  - WAV  — `RIFF....WAVE`, then a CHUNK WALK (ids are 4 bytes, sizes
  *    little-endian u32, chunks word-aligned) to the `fmt ` chunk:
  *    channels u16 LE at +10, sample rate u32 LE at +12, bits/sample
  *    u16 LE at +22. Metadata chunks (LIST/JUNK/bext) may precede fmt.
  *  - FLAC — `fLaC` + mandatory leading STREAMINFO block: sample rate is
  *    the 20-bit big-endian field at byte 18, channels the next 3 bits
  *    (+1), bits/sample the next 5 bits (+1).
  *  - MP3  — optional ID3v2 tag (size = 28-bit syncsafe int at bytes
  *    6..9) then an MPEG frame header `FF Ex/Fx`: version and sampling-
  *    rate index decode the rate table; channel mode 3 = mono.
  *    bits/sample is null (lossy stream).
  *
  * Unrecognized/truncated payloads yield ('unknown', null, null, null);
  * a recognized container whose parameter chunk is missing/cut yields
  * (fmt, null, null, null).
  */
object AudioMetaKernel {
  private val FmtWav = UTF8String.fromString("wav")
  private val FmtFlac = UTF8String.fromString("flac")
  private val FmtMp3 = UTF8String.fromString("mp3")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = (u8(b, i + 1) << 8) | u8(b, i)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i + 3).toLong << 24) | (u8(b, i + 2) << 16) | (u8(b, i + 1) << 8) | u8(b, i)

  private def row(fmt: UTF8String, ch: Any, rate: Any, bits: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, ch, rate, bits))

  /** MPEG sampling rates by [version index 0-3][rate index 0-2];
    * version index from header bits 19-20: 0=V2.5, 1=reserved, 2=V2, 3=V1. */
  private val Mp3Rates: Array[Array[Int]] = Array(
    Array(11025, 12000, 8000), // V2.5
    Array(0, 0, 0),            // reserved
    Array(22050, 24000, 16000),// V2
    Array(44100, 48000, 32000))// V1

  private def isTag(b: Array[Byte], i: Int, t: String): Boolean =
    (0 until t.length).forall(j => u8(b, i + j) == t.charAt(j))

  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return row(FmtUnknown, null, null, null)
    val n = bytes.length
    // WAV: RIFF container, walk word-aligned chunks to `fmt `
    if (n >= 12 && isTag(bytes, 0, "RIFF") && isTag(bytes, 8, "WAVE")) {
      var pos = 12L
      while (pos + 8 <= n) {
        val p = pos.toInt
        val size = le32(bytes, p + 4)
        if (isTag(bytes, p, "fmt ")) {
          if (pos + 8 + 16 <= n && size >= 16)
            return row(FmtWav, le16(bytes, p + 10),
              le32(bytes, p + 12).toInt, le16(bytes, p + 22))
          return row(FmtWav, null, null, null)
        }
        // word-aligned chunk advance in LONG math — a bogus size near
        // 2^32 must overshoot the buffer, never truncate to a no-op
        pos += 8L + size + (size & 1L)
      }
      return row(FmtWav, null, null, null)
    }
    // FLAC: fLaC + STREAMINFO (first metadata block is mandatory and
    // fixed-layout: rate/channels/bps packed big-endian from byte 18)
    if (n >= 4 && isTag(bytes, 0, "fLaC")) {
      if (n >= 22 && (u8(bytes, 4) & 0x7f) == 0) {
        val rate = (u8(bytes, 18) << 12) | (u8(bytes, 19) << 4) | (u8(bytes, 20) >> 4)
        val ch = ((u8(bytes, 20) >> 1) & 0x07) + 1
        val bits = (((u8(bytes, 20) & 1) << 4) | (u8(bytes, 21) >> 4)) + 1
        return row(FmtFlac, ch, rate, bits)
      }
      return row(FmtFlac, null, null, null)
    }
    // MP3: skip one optional ID3v2 tag, then require the frame sync
    // exactly there (deterministic — no forward scan, so a pure-SQL
    // replay sees the identical bytes)
    val hasId3 = n >= 10 && isTag(bytes, 0, "ID3")
    val start =
      if (hasId3)
        10 + ((u8(bytes, 6) << 21) | (u8(bytes, 7) << 14) |
              (u8(bytes, 8) << 7) | u8(bytes, 9))
      else 0
    val mp3Sync = start + 4 <= n && u8(bytes, start) == 0xff &&
      (u8(bytes, start + 1) & 0xe0) == 0xe0
    if (mp3Sync || hasId3) {
      if (!mp3Sync) return row(FmtMp3, null, null, null)
      val b1 = u8(bytes, start + 1)
      val b2 = u8(bytes, start + 2)
      val ver = (b1 >> 3) & 3
      val layer = (b1 >> 1) & 3
      val rateIdx = (b2 >> 2) & 3
      if (ver == 1 || layer == 0 || rateIdx == 3)
        return row(FmtMp3, null, null, null) // reserved fields
      val mode = (u8(bytes, start + 3) >> 6) & 3
      return row(FmtMp3, if (mode == 3) 1 else 2, Mp3Rates(ver)(rateIdx), null)
    }
    row(FmtUnknown, null, null, null)
  }
}

/** `audio_meta(binary)` -> struct(format string, channels int,
  * sample_rate int, bits_per_sample int). Codegen'd call into the
  * row-local [[AudioMetaKernel]]; null payload -> null struct. */
case class AudioMeta(child: Expression) extends MediaMeta {

  override protected def parse(bytes: Array[Byte]): InternalRow = AudioMetaKernel.parse(bytes)

  override protected def parseCall: String = "graft.sql.AudioMetaKernel.parse"

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("bits_per_sample", IntegerType, nullable = true)))

  override def prettyName: String = "audio_meta"

  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}
