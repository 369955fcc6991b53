package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video payloads are opaque
 * `binary` columns with typed metadata — relational byte statistics
 * (`mediaMeta`) and container headers parsed by a typed mapPartitions
 * (`headerMeta`), so the metadata feeds downstream joins and filters
 * without an optimizer barrier.
 */
object multimodal {

  /** Pure-relational metadata extraction over a binary payload column —
    * stays in whole-stage codegen. */
  def mediaMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(payloadCol)).cast("long").as("n_bytes"),
      md5(col(payloadCol)).as("payload_md5"),
      pmod(length(col(payloadCol)).cast("long"), lit(251L)).as("shard"))

  // -------------------------------------------------------------------------
  // Real container-header decode — no codec needed: PNG/JPEG/GIF/WAV store
  // their dimensions/audio params in fixed, documented header fields, so
  // deterministic byte parsing recovers the typed metadata from the opaque
  // binary column.
  // -------------------------------------------------------------------------

  /** Parsed media header. width/height for images; channels/sample_rate
    * for audio (images report channels from the color model, sample_rate
    * 0); format "unknown" with zeros when no magic matches. */
  final case class MediaHeader(format: String, width: Int, height: Int,
                               channels: Int, sample_rate: Int)

  private def be16(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xFF) << 8) | (p(i + 1) & 0xFF)
  private def be32(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xFF) << 24) | ((p(i + 1) & 0xFF) << 16) |
      ((p(i + 2) & 0xFF) << 8) | (p(i + 3) & 0xFF)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)
  private def le32(p: Array[Byte], i: Int): Int =
    (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8) |
      ((p(i + 2) & 0xFF) << 16) | ((p(i + 3) & 0xFF) << 24)

  private val Unknown = MediaHeader("unknown", 0, 0, 0, 0)

  /** Magic-number dispatch + per-format fixed-field parse:
    *  - PNG: 8-byte signature, IHDR width/height at offsets 16/20 (BE32),
    *    channels derived from the color-type byte at 25;
    *  - JPEG: FF D8 then marker scan to the first SOF segment (C0-CF minus
    *    C4/C8/CC), which carries height/width (BE16) and component count;
    *  - GIF: "GIF87a"/"GIF89a", logical-screen width/height LE16 at 6/8;
    *  - WAV: "RIFF....WAVE", chunk scan to "fmt " for channels (LE16) and
    *    sample rate (LE32). */
  def parseHeader(p: Array[Byte]): MediaHeader = {
    if (p == null || p.length < 12) return Unknown
    // PNG
    if ((p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        p.length >= 26 && p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
      val ch = (p(25) & 0xFF) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4; case _ => 0
      }
      return MediaHeader("png", be32(p, 16), be32(p, 20), ch, 0)
    }
    // JPEG
    if ((p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 3 < p.length) {
        if ((p(i) & 0xFF) != 0xFF) return Unknown // desynced marker stream
        val m = p(i + 1) & 0xFF
        if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2
        else if (m == 0xD9 || m == 0xDA) return Unknown // EOI/SOS before any SOF
        else {
          val len = be16(p, i + 2)
          if (len < 2) return Unknown
          val sof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
          if (sof) {
            if (i + 9 >= p.length) return Unknown
            return MediaHeader("jpeg", be16(p, i + 7), be16(p, i + 5),
              p(i + 9) & 0xFF, 0)
          }
          i += 2 + len
        }
      }
      return Unknown
    }
    // GIF
    if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8' &&
        (p(4) == '7' || p(4) == '9') && p(5) == 'a' && p.length >= 10)
      return MediaHeader("gif", le16(p, 6), le16(p, 8), 0, 0)
    // WAV
    if (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') {
      var i = 12
      while (i + 8 <= p.length) {
        val isFmt = p(i) == 'f' && p(i + 1) == 'm' && p(i + 2) == 't' && p(i + 3) == ' '
        val sz = le32(p, i + 4)
        if (isFmt) {
          if (i + 16 > p.length) return Unknown
          return MediaHeader("wav", 0, 0, le16(p, i + 10), le32(p, i + 12))
        }
        // a chunk can never extend past the payload that contains it — and
        // advancing by an unchecked 32-bit size would overflow the Int
        // cursor into negative territory (the loop guard passes for
        // negative i, so p(i) would then throw instead of degrading)
        if (sz < 0 || sz > p.length - i - 8) return Unknown
        i += 8 + sz + (sz & 1) // chunks are word-aligned
      }
      return Unknown
    }
    Unknown
  }

  // --- deterministic container builders (fixtures; also exercised by the
  // q56 round-trip oracle: build from known fields, parse back, compare
  // against the independent formula) ---------------------------------------

  def pngBytes(w: Int, h: Int, colorType: Int = 2): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 25) // signature + IHDR chunk
    b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(w).putInt(h)
    b.put(8.toByte).put(colorType.toByte) // bit depth, color type
    b.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
    b.putInt(0) // CRC placeholder (parser reads fields, not CRC)
    b.array()
  }

  def jpegBytes(w: Int, h: Int, channels: Int = 3): Array[Byte] = {
    val sofLen = 8 + 3 * channels
    val b = java.nio.ByteBuffer.allocate(2 + 6 + 2 + sofLen + 2)
    b.put(0xFF.toByte).put(0xD8.toByte)                    // SOI
    b.put(0xFF.toByte).put(0xFE.toByte).putShort(4).putShort(0) // COM stub
    b.put(0xFF.toByte).put(0xC0.toByte).putShort(sofLen.toShort) // SOF0
    b.put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(channels.toByte)
    (0 until channels).foreach { c =>
      b.put((c + 1).toByte).put(0x11.toByte).put(0.toByte)
    }
    b.put(0xFF.toByte).put(0xD9.toByte)                    // EOI
    b.array()
  }

  def gifBytes(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes("US-ASCII"))
    b.putShort(w.toShort).putShort(h.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  def wavBytes(channels: Int, sampleRate: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + 8 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 16)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1.toShort).putShort(channels.toShort) // PCM, channels
    b.putInt(sampleRate).putInt(sampleRate * channels * 2)
    b.putShort((channels * 2).toShort).putShort(16.toShort)
    b.array()
  }

  /**
   * (id, payload: binary) → typed header metadata, as a batched typed
   * mapPartitions (a MapPartitions *logical* node — Catalyst/AQE keep
   * owning the plan, unlike a df.rdd hop), so header metadata can feed
   * downstream joins/filters (e.g. partition by format, filter by
   * resolution) without an optimizer barrier.
   */
  def headerMeta(spark: SparkSession, df: DataFrame, idCol: String,
                 payloadCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val m = parseHeader(p)
        (id, m.format, m.width, m.height, m.channels, m.sample_rate)
      })
      .toDF("id", "format", "width", "height", "channels", "sample_rate")
  }
}
