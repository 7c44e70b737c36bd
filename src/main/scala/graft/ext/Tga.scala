package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import Multimodal.{Dims, ImageSql}

/** Real Truevision TGA codec (public spec: Truevision "TGA File Format
  * Specification" v2.0, 1991) — uncompressed true-color (type 2) and
  * run-length-encoded true-color (type 10), 24-bit BGR, both row
  * origins. TGA is the third self-contained raster format beside BMP
  * and QOI in this suite, and it exercises the one compression shape
  * the others don't: classic byte-run RLE with mixed run/literal
  * packets (QOI's op stream and GIF's LZW are both dictionary-ish).
  *
  * Same architecture as every codec here ([[Multimodal.roundTrip]]):
  * byte-grammar decode is genuinely per-row imperative work, so it runs
  * as a typed mapPartitions kernel — NOT a UDF in a SQL expression (no
  * codegen benefit for a byte parser) and NOT a driver loop (the codec
  * runs where the bytes live; at 100 TB the payload column never
  * crosses the shuffle). The gate feeds synthetic images derived from
  * document text through encode→decode and emits exact integer stats;
  * the DuckDB oracle recomputes those stats straight from the text,
  * BLIND to the codec, so a BGR mixup, a forgotten bottom-up flip, a
  * run off-by-one, or a packet-boundary bug hash-mismatches.
  */
object Tga {

  /** Decoded image: top-down RGB plane regardless of file row origin. */
  case class TgaImage(width: Int, height: Int, pixels: Array[Byte])
      extends Multimodal.Raster

  object TgaCodec {
    private val HeaderLen = 18

    /** Encode a top-down RGB plane. `rle=true` writes type 10 (packets
      * split at row boundaries, per spec recommendation), else type 2.
      * Rows are written BOTTOM-UP (descriptor bit 5 clear) — the
      * format's default origin, and the flip the decoder must undo. */
    def encode(width: Int, height: Int, rgb: Array[Byte],
        rle: Boolean): Array[Byte] = {
      require(rgb.length == 3 * width * height, "plane size mismatch")
      val out = new java.io.ByteArrayOutputStream()
      out.write(0) // id length
      out.write(0) // no color map
      out.write(if (rle) 10 else 2)
      out.write(Array.fill(5)(0.toByte)) // color-map spec: none
      out.write(0); out.write(0) // x-origin
      out.write(0); out.write(0) // y-origin
      out.write(width & 0xff); out.write((width >> 8) & 0xff)
      out.write(height & 0xff); out.write((height >> 8) & 0xff)
      out.write(24) // bits per pixel
      out.write(0)  // descriptor: bottom-up, no alpha bits
      // File rows bottom-up, pixels BGR.
      var y = height - 1
      while (y >= 0) {
        if (rle) encodeRleRow(out, rgb, y, width)
        else {
          var x = 0
          while (x < width) {
            val s = 3 * (y * width + x)
            out.write(rgb(s + 2)); out.write(rgb(s + 1)); out.write(rgb(s))
            x += 1
          }
        }
        y -= 1
      }
      out.toByteArray
    }

    /** Greedy per-row RLE: maximal equal-pixel runs become run packets
      * (length ≥ 2), everything between becomes literal packets; both
      * capped at the format's 128-pixel packet limit. */
    private def encodeRleRow(out: java.io.ByteArrayOutputStream,
        rgb: Array[Byte], y: Int, width: Int): Unit = {
      def px(x: Int): (Byte, Byte, Byte) = {
        val s = 3 * (y * width + x)
        (rgb(s + 2), rgb(s + 1), rgb(s)) // BGR
      }
      var x = 0
      while (x < width) {
        // Measure the equal-pixel run starting at x.
        var run = 1
        while (x + run < width && run < 128 && px(x + run) == px(x)) run += 1
        if (run >= 2) {
          val (b, g, r) = px(x)
          out.write(0x80 | (run - 1))
          out.write(b); out.write(g); out.write(r)
          x += run
        } else {
          // Literal: extend until the next run of ≥2 (or row/cap end).
          var lit = 1
          while (x + lit < width && lit < 128 &&
            !(x + lit + 1 < width && px(x + lit + 1) == px(x + lit))) lit += 1
          out.write(lit - 1)
          var i = 0
          while (i < lit) {
            val (b, g, r) = px(x + i)
            out.write(b); out.write(g); out.write(r)
            i += 1
          }
          x += lit
        }
      }
    }

    /** Decode types 2 and 10 at 24 bpp, either row origin. Returns None
      * on any structural violation (truncation, unknown type, packet
      * overrun) — malformed media is data, not an exception, in a
      * pipeline. */
    def decode(bytes: Array[Byte]): Option[TgaImage] = {
      if (bytes.length < HeaderLen) return None
      def u8(i: Int): Int = bytes(i) & 0xff
      val idLen = u8(0)
      val cmapType = u8(1)
      val imgType = u8(2)
      val width = u8(12) | (u8(13) << 8)
      val height = u8(14) | (u8(15) << 8)
      val depth = u8(16)
      val topDown = (u8(17) & 0x20) != 0
      if (cmapType != 0 || (imgType != 2 && imgType != 10) || depth != 24)
        return None
      if (width <= 0 || height <= 0) return None
      val n = 3 * width * height
      // Raw file-order plane (file row order, BGR).
      val raw = new Array[Byte](n)
      var p = HeaderLen + idLen
      var w = 0
      if (imgType == 2) {
        if (bytes.length < p + n) return None
        System.arraycopy(bytes, p, raw, 0, n)
      } else {
        while (w < n) {
          if (p >= bytes.length) return None
          val h = u8(p); p += 1
          val cnt = (h & 0x7f) + 1
          if (w + 3 * cnt > n) return None // packet overruns the image
          if ((h & 0x80) != 0) {
            if (p + 3 > bytes.length) return None
            var i = 0
            while (i < cnt) {
              raw(w) = bytes(p); raw(w + 1) = bytes(p + 1)
              raw(w + 2) = bytes(p + 2)
              w += 3; i += 1
            }
            p += 3
          } else {
            if (p + 3 * cnt > bytes.length) return None
            System.arraycopy(bytes, p, raw, w, 3 * cnt)
            p += 3 * cnt; w += 3 * cnt
          }
        }
      }
      // Normalize to top-down RGB.
      val outPx = new Array[Byte](n)
      var y = 0
      while (y < height) {
        val srcY = if (topDown) y else height - 1 - y
        var x = 0
        while (x < width) {
          val s = 3 * (srcY * width + x)
          val d = 3 * (y * width + x)
          outPx(d) = raw(s + 2)     // R from BGR
          outPx(d + 1) = raw(s + 1)
          outPx(d + 2) = raw(s)
          x += 1
        }
        y += 1
      }
      Some(TgaImage(width, height, outPx))
    }
  }

  /** TGA's dims rule. Even doc ids take the uncompressed type-2 path,
    * odd ids type-10 RLE — both paths exercised at every SF, and the
    * flag is in the output so the split is auditable. */
  private val TgaDims = Dims(2, 6, 2, 5)

  private def rle(id: Long): Boolean = id % 2 == 1

  /** Gate: encode→decode round trip with the REAL codec. Stats are over
    * the normalized top-down RGB plane: `wsum` catches origin flips and
    * channel swaps that the per-channel sums are invariant to. */
  def decodeTga(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Multimodal.roundTrip(Multimodal.mediaTable(spark, sfDir),
        TgaDims, 3,
        (id, w, h, rgb) => TgaCodec.decode(TgaCodec.encode(w, h, rgb, rle(id)))) {
      (id, img) =>
        val (s, ws) = Multimodal.planeStats(img.pixels, 3)
        (id, img.width.toLong, img.height.toLong, rle(id), s(0), s(1), s(2), ws)
    }.toDF("doc_id", "width", "height", "rle", "sum_r", "sum_g", "sum_b", "wsum")
  }

  val decodeTgaSql: String = ImageSql.over(TgaDims,
    (Seq(ImageSql.WidthHeight, "doc_id % 2 = 1 AS rle") ++
      ImageSql.chanSums(ImageSql.Rgb)) :+ ImageSql.wsum())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode_tga" -> (decodeTga _))

  val oracles: Map[String, String] = Map(
    "multimodal_decode_tga" -> decodeTgaSql)
}
