package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import Multimodal.{Dims, ImageSql}

/** QOI codec ("Quite OK Image", Szablewski 2022 — public-domain spec,
  * qoiformat.org) — the sixth REAL public-format codec beside
  * PPM/BMP/PNG/GIF/WAV, and a different compression family again:
  * byte-aligned delta coding with a 64-entry running HASH INDEX
  * (r·3+g·5+b·7+a·11 mod 64), 2-bit wraparound diffs, luma-relative
  * diffs, and 62-max run-length chunks. No entropy coder, no bit
  * packing — the format's whole point is one-pass O(n) streaming
  * encode/decode, which is also why it suits a data pipeline: decode
  * speed is memory-bound, perfect for a mapPartitions kernel.
  *
  * Scale shape: encode→decode is per-row kernel work inside one
  * mapPartitions over the document scan — embarrassingly parallel, no
  * shuffle; the byte-grammar codec is the documented mapPartitions
  * exception (the running index + previous-pixel state is inherently
  * sequential per image).
  */
object Qoi {

  case class QoiImage(width: Int, height: Int, rgb: Array[Byte])
      extends Multimodal.Raster {
    def pixels: Array[Byte] = rgb
  }

  private val OpIndex = 0x00
  private val OpDiff = 0x40
  private val OpLuma = 0x80
  private val OpRun = 0xc0
  private val OpRgb = 0xfe

  private def hash(r: Int, g: Int, b: Int): Int =
    (r * 3 + g * 5 + b * 7 + 255 * 11) % 64

  /** Spec-faithful RGB (channels=3) encoder. */
  def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * width * height, "plane size mismatch")
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    be32(width); be32(height)
    out.write(3); out.write(0)
    val index = new Array[Int](64) // packed 0xRRGGBB, init 0 = black
    var pr = 0; var pg = 0; var pb = 0
    var run = 0
    var p = 0
    val n = width * height
    while (p < n) {
      val r = rgb(3 * p) & 0xff
      val g = rgb(3 * p + 1) & 0xff
      val b = rgb(3 * p + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62) { out.write(OpRun | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(OpRun | (run - 1)); run = 0 }
        val h = hash(r, g, b)
        val packed = (r << 16) | (g << 8) | b
        if (index(h) == packed) out.write(OpIndex | h)
        else {
          index(h) = packed
          // wraparound differences (mod 256, as signed bytes)
          val dr = ((r - pr + 128) & 0xff) - 128
          val dg = ((g - pg + 128) & 0xff) - 128
          val db = ((b - pb + 128) & 0xff) - 128
          val drg = dr - dg
          val dbg = db - dg
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 &&
            db >= -2 && db <= 1)
            out.write(OpDiff | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 &&
            dbg >= -8 && dbg <= 7) {
            out.write(OpLuma | (dg + 32))
            out.write(((drg + 8) << 4) | (dbg + 8))
          } else {
            out.write(OpRgb); out.write(r); out.write(g); out.write(b)
          }
        }
        pr = r; pg = g; pb = b
      }
      p += 1
    }
    if (run > 0) out.write(OpRun | (run - 1))
    // end marker: seven 0x00 then 0x01
    for (_ <- 1 to 7) out.write(0)
    out.write(1)
    out.toByteArray
  }

  /** Decoder with structural validation (magic, dims, truncation,
    * end-marker, exact pixel count). */
  def decode(bytes: Array[Byte]): Option[QoiImage] = {
    if (bytes.length < 14 + 8) return None
    if (bytes(0) != 'q' || bytes(1) != 'o' || bytes(2) != 'i' ||
      bytes(3) != 'f') return None
    def be32(off: Int): Int =
      ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
        ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
    val w = be32(4); val h = be32(8)
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
    if (bytes(12) != 3 || bytes(13) != 0) return None
    val n = w * h
    val out = new Array[Byte](3 * n)
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0
    var p = 0
    var i = 14
    val end = bytes.length - 8
    while (p < n && i < end) {
      val b0 = bytes(i) & 0xff; i += 1
      if (b0 == OpRgb) {
        if (i + 3 > end) return None
        pr = bytes(i) & 0xff; pg = bytes(i + 1) & 0xff
        pb = bytes(i + 2) & 0xff; i += 3
      } else if (b0 == 0xff) {
        return None // RGBA op invalid in a channels=3 stream
      } else (b0 & 0xc0) match {
        case OpIndex =>
          val v = index(b0 & 0x3f)
          pr = (v >> 16) & 0xff; pg = (v >> 8) & 0xff; pb = v & 0xff
        case OpDiff =>
          pr = (pr + ((b0 >> 4) & 0x3) - 2) & 0xff
          pg = (pg + ((b0 >> 2) & 0x3) - 2) & 0xff
          pb = (pb + (b0 & 0x3) - 2) & 0xff
        case OpLuma =>
          if (i + 1 > end) return None
          val dg = (b0 & 0x3f) - 32
          val b1 = bytes(i) & 0xff; i += 1
          pr = (pr + dg + ((b1 >> 4) & 0xf) - 8) & 0xff
          pg = (pg + dg) & 0xff
          pb = (pb + dg + (b1 & 0xf) - 8) & 0xff
        case _ => // OpRun (0xfe/0xff already routed above)
          val run = (b0 & 0x3f) + 1
          if (run > 62 || p + run > n) return None
          var k = 0
          while (k < run) {
            out(3 * p) = pr.toByte; out(3 * p + 1) = pg.toByte
            out(3 * p + 2) = pb.toByte
            p += 1; k += 1
          }
      }
      // Every non-run op yields exactly one pixel. NOTE the op-class
      // test must treat 0xfe (RGB) as non-run even though
      // 0xfe & 0xc0 == 0xc0 — hence the explicit b0 < 0xfe guard.
      val isRun = (b0 & 0xc0) == OpRun && b0 < OpRgb
      if (!isRun) {
        if (p >= n) return None
        out(3 * p) = pr.toByte; out(3 * p + 1) = pg.toByte
        out(3 * p + 2) = pb.toByte
        p += 1
        index(hash(pr, pg, pb)) = (pr << 16) | (pg << 8) | pb
      }
    }
    if (p != n) return None
    // end marker must be exactly 0x00×7 then 0x01 at the stream tail
    if (i != end) return None
    var j = 0
    while (j < 7) { if (bytes(end + j) != 0) return None; j += 1 }
    if (bytes(end + 7) != 1) return None
    Some(QoiImage(w, h, out))
  }

  /** QOI's dims rule: 5..12 × 4..9 over repeating text bytes exercise
    * RUN (repeated phrases), INDEX (revisited colors), DIFF/LUMA
    * (adjacent ASCII codes) and the RGB escape at every SF. */
  private val QoiDims = Dims(5, 8, 4, 6)

  /** Encode→decode round trip with the real QOI codec; the oracle
    * recomputes the channel stats straight from the payload bytes,
    * blind to the codec. */
  def decodeQoi(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.rgbStats(Multimodal.mediaTable(spark, sfDir),
      QoiDims, (_, w, h, rgb) => decode(encode(w, h, rgb))).toDF()

  val decodeQoiSql: String = ImageSql.rgbStats(QoiDims)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode_qoi" -> (decodeQoi _))

  val oracles: Map[String, String] = Map(
    "multimodal_decode_qoi" -> decodeQoiSql)
}
