package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AudioMetaSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def le16(v: Int) = bytes(v & 0xff, v >> 8)
  private def le32(v: Int) =
    bytes(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff)

  private def wav(ch: Int, rate: Int, bits: Int,
      pre: Array[Byte] = Array.empty): Array[Byte] = {
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++
      le32(rate) ++ le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
    val body = pre ++ fmt
    "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
  }

  private def flacBytes(rate: Int, ch: Int, bits: Int): Array[Byte] = {
    val packed = (rate.toLong << 44) | ((ch - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | 4096L
    "fLaC".getBytes ++ bytes(0x80, 0, 0, 34) ++
      bytes(4, 0, 4, 0, 0, 0, 0, 0, 0, 0) ++
      (0 until 8).map(i => ((packed >> (56 - 8 * i)) & 0xff).toByte) ++
      Array.fill(16)(0.toByte)
  }

  private def mp3(ver: Int, rateIdx: Int, mode: Int): Array[Byte] =
    bytes(0xff, 0xe0 | (ver << 3) | (1 << 1) | 1,
      (9 << 4) | (rateIdx << 2), mode << 6) ++ Array.fill(8)(3.toByte)

  test("audio_meta parses WAV/FLAC/MP3 headers and rejects junk") {
    val junkChunk = "JUNK".getBytes ++ le32(11) ++
      Array.fill(11)(9.toByte) :+ 0.toByte // odd size -> word-align pad
    val id3 = "ID3".getBytes ++ bytes(4, 0, 0, 0, 0, 0, 100) ++
      Array.fill(100)(0.toByte)
    val rows = Seq(
      (1L, wav(2, 44100, 16)),
      (2L, wav(6, 48000, 24, pre = junkChunk)), // fmt behind a padded chunk
      (3L, "RIFF".getBytes ++ le32(10) ++ "WAVE".getBytes), // no chunks
      (4L, flacBytes(192000, 8, 32)),
      (5L, "fLaC".getBytes), // truncated STREAMINFO
      (6L, mp3(ver = 3, rateIdx = 0, mode = 0)),   // V1 44100 stereo
      (7L, mp3(ver = 2, rateIdx = 1, mode = 3)),   // V2 24000 mono
      (8L, id3 ++ mp3(ver = 0, rateIdx = 2, mode = 3)), // ID3 skip, V2.5 8000
      (9L, id3 ++ "garbage".getBytes), // ID3 but no sync at tag end
      (10L, "not audio at all".getBytes)
    ).toDF("id", "payload")
    val got = Multimodal.audioMeta(rows, col("payload"))
      .select(col("id"), col("format"), col("channels"),
        col("sample_rate"), col("bits_per_sample"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4)))).toMap
    assert(got(1L) == (("wav", 2, 44100, 16)))
    assert(got(2L) == (("wav", 6, 48000, 24)))
    assert(got(3L) == (("wav", -1, -1, -1)))
    assert(got(4L) == (("flac", 8, 192000, 32)))
    assert(got(5L) == (("flac", -1, -1, -1)))
    assert(got(6L) == (("mp3", 2, 44100, -1)))
    assert(got(7L) == (("mp3", 1, 24000, -1)))
    assert(got(8L) == (("mp3", 1, 8000, -1)))
    assert(got(9L) == (("mp3", -1, -1, -1)))
    assert(got(10L) == (("unknown", -1, -1, -1)))
  }

  test("audio_meta over the committed fixture blobs matches file-name formats") {
    val repo = sys.env.getOrElse("SPARK_GRAFT_REPO_DIR", sys.props("user.dir"))
    val got = Multimodal.audioMeta(
        spark.read.format("binaryFile").load(s"$repo/fixtures/audio"),
        col("content"))
      .select(
        regexp_extract(col("path"), "aud_\\d+\\.(\\w+)", 1).as("ext"),
        col("format"), col("channels"), col("sample_rate"))
      .collect()
    assert(got.length == 16)
    got.foreach { r =>
      val (ext, fmt) = (r.getString(0), r.getString(1))
      ext match {
        case "wav" => assert(fmt == "wav")
        case "flac" => assert(fmt == "flac")
        case "mp3" => assert(fmt == "mp3")
        case "dat" => assert(fmt == "unknown" && r.isNullAt(2) && r.isNullAt(3))
      }
    }
    // every non-truncated fixture decodes real parameters
    val decoded = got.filter(r => !r.isNullAt(3)).map(_.getInt(3))
    assert(decoded.forall(r => r >= 8000 && r <= 192000))
    assert(decoded.length == 11) // 4 wav + 3 flac + 4 mp3 (incl. ID3-prefixed)
  }
}
