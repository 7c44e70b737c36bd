package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import Multimodal.{Dims, ImageSql}

/** GIF87a codec — the fifth REAL public-format codec beside
  * [[Multimodal]]'s PPM/BMP/PNG and [[Audio]]'s WAV, and the one that
  * exercises a genuinely different compression family: LZW with
  * VARIABLE-WIDTH codes (9→12 bits, LSB-first bit packing), clear-code
  * dictionary resets, and 255-byte sub-block framing (GIF87a spec,
  * CompuServe 1987 — public documentation). The palette is the
  * 256-entry grayscale ramp, so palette index == gray value and the
  * decoded stats are oracle-computable straight from the source bytes,
  * blind to the compression in between (the [[Multimodal.decodePng]]
  * discipline).
  *
  * Scale shape: encode→decode is per-row kernel work inside one
  * mapPartitions over the document scan — embarrassingly parallel, no
  * shuffle; the byte-grammar codec is the documented mapPartitions
  * exception (a Catalyst expression cannot express stateful
  * variable-width bit unpacking).
  */
object Gif {

  private val Clear = 256
  private val Eoi = 257
  private val MaxCode = 4096

  /** LSB-first bit writer (the GIF packing order). */
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nbits = 0
    def write(code: Int, width: Int): Unit = {
      acc |= (code.toLong & ((1L << width) - 1)) << nbits
      nbits += width
      while (nbits >= 8) {
        out.write((acc & 0xff).toInt)
        acc >>>= 8
        nbits -= 8
      }
    }
    def finish(): Array[Byte] = {
      if (nbits > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }
  }

  /** LSB-first bit reader over the concatenated sub-block payload. */
  private final class BitReader(data: Array[Byte]) {
    private var pos = 0
    private var acc = 0L
    private var nbits = 0
    /** -1 on exhausted input (malformed stream). */
    def read(width: Int): Int = {
      while (nbits < width) {
        if (pos >= data.length) return -1
        acc |= (data(pos) & 0xffL) << nbits
        pos += 1
        nbits += 8
      }
      val v = (acc & ((1L << width) - 1)).toInt
      acc >>>= width
      nbits -= width
      v
    }
  }

  /** GIF-variant LZW compress of 8-bit pixel indices. */
  private[graft] def lzwEncode(pixels: Array[Byte]): Array[Byte] = {
    val bw = new BitWriter
    var codeSize = 9
    var next = Eoi + 1
    var table = new java.util.HashMap[Long, Integer](4096)
    def key(prefix: Int, k: Int): Long = (prefix.toLong << 8) | k
    bw.write(Clear, codeSize)
    var prefix = -1
    var i = 0
    while (i < pixels.length) {
      val k = pixels(i) & 0xff
      if (prefix < 0) prefix = k
      else {
        val code = table.get(key(prefix, k))
        if (code != null) prefix = code
        else {
          bw.write(prefix, codeSize)
          if (next < MaxCode) {
            table.put(key(prefix, k), next)
            next += 1
            // The encoder adds its m-th entry after EMITTING m codes;
            // the decoder adds it after READING m+1 — one code later.
            // So the encoder's width bump trails its own add by one
            // step (2^cs + 1, vs the decoder's 2^cs) or the two sides
            // disagree on the width of exactly one code per regime.
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          } else {
            bw.write(Clear, codeSize)
            table = new java.util.HashMap[Long, Integer](4096)
            next = Eoi + 1
            codeSize = 9
          }
          prefix = k
        }
      }
      i += 1
    }
    if (prefix >= 0) bw.write(prefix, codeSize)
    bw.write(Eoi, codeSize)
    bw.finish()
  }

  /** GIF-variant LZW decompress; None on any malformed stream. */
  private[graft] def lzwDecode(data: Array[Byte],
      expected: Int): Option[Array[Byte]] = {
    val br = new BitReader(data)
    val out = new java.io.ByteArrayOutputStream(expected)
    var codeSize = 9
    var next = Eoi + 1
    // table(code) = decoded byte string; roots 0..255 are implicit.
    var suffix = new Array[Byte](MaxCode)
    var prefixOf = new Array[Int](MaxCode)
    var length = new Array[Int](MaxCode)
    def emit(code: Int): Byte = { // writes the string, returns its head
      val buf = new Array[Byte](length(code))
      var c = code
      var j = buf.length - 1
      while (c >= 256) { buf(j) = suffix(c); c = prefixOf(c); j -= 1 }
      buf(j) = c.toByte
      out.write(buf, 0, buf.length)
      buf(j)
    }
    def initRoots(): Unit = {
      var c = 0
      while (c < 256) { length(c) = 1; prefixOf(c) = -1; c += 1 }
    }
    initRoots()
    var prev = -1
    var first: Byte = 0
    var done = false
    while (!done) {
      val code = br.read(codeSize)
      if (code < 0) return None
      if (code == Clear) {
        codeSize = 9; next = Eoi + 1; prev = -1
      } else if (code == Eoi) done = true
      else if (prev < 0) {
        if (code >= 256) return None
        first = emit(code)
        prev = code
      } else if (code < next && code != Clear && code != Eoi) {
        first = emit(code)
        if (next < MaxCode) {
          suffix(next) = first; prefixOf(next) = prev
          length(next) = length(prev) + 1
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      } else if (code == next) { // the KwKwK case
        if (next >= MaxCode) return None
        suffix(next) = first; prefixOf(next) = prev
        length(next) = length(prev) + 1
        // entry must exist before emitting itself
        first = emit(next)
        next += 1
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        prev = code
      } else return None
    }
    val bytes = out.toByteArray
    if (bytes.length != expected) None else Some(bytes)
  }

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Encode 8-bit pixels as a GIF87a with the grayscale-ramp global
    * color table. */
  private[graft] def encode(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h, "pixel buffer must be w*h")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(le16(w)); out.write(le16(h))
    out.write(0xf7) // GCT present, 8-bit color res, 256 entries
    out.write(0); out.write(0) // bg color, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    out.write(0x2c) // image descriptor
    out.write(le16(0)); out.write(le16(0)); out.write(le16(w)); out.write(le16(h))
    out.write(0) // no local color table, not interlaced
    out.write(8) // LZW minimum code size
    val lzw = lzwEncode(pixels)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  private[graft] case class GifImage(width: Int, height: Int,
      pixels: Array[Byte]) extends Multimodal.Raster

  /** Strict GIF87a decode of the subset this codec writes (one image,
    * GCT, no interlace); extensions (0x21) are length-skipped like any
    * compliant reader. None on malformed input. */
  private[graft] def decode(bytes: Array[Byte]): Option[GifImage] = {
    def u8(i: Int) = bytes(i) & 0xff
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (bytes.length < 13) return None
    val sig = new String(bytes, 0, 6,
      java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val packed = u8(10)
    var off = 13
    if ((packed & 0x80) != 0) {
      val gctSize = 3 * (2 << (packed & 7))
      off += gctSize
      if (off > bytes.length) return None
    }
    while (off < bytes.length && u8(off) == 0x21) { // extension blocks
      off += 2
      while (off < bytes.length && u8(off) != 0) off += 1 + u8(off)
      off += 1
    }
    if (off >= bytes.length || u8(off) != 0x2c) return None
    if (off + 10 > bytes.length) return None
    val w = u16(off + 5); val h = u16(off + 7)
    val ipacked = u8(off + 9)
    if ((ipacked & 0x80) != 0) return None // local color table unsupported
    if ((ipacked & 0x40) != 0) return None // interlace unsupported
    off += 10
    if (off >= bytes.length || u8(off) != 8) return None // min code size
    off += 1
    val data = new java.io.ByteArrayOutputStream()
    var ok = false
    while (!ok && off < bytes.length) {
      val n = u8(off)
      off += 1
      if (n == 0) ok = true
      else {
        if (off + n > bytes.length) return None
        data.write(bytes, off, n)
        off += n
      }
    }
    if (!ok) return None
    if (off >= bytes.length || u8(off) != 0x3b) return None
    lzwDecode(data.toByteArray, w * h).map(GifImage(w, h, _))
  }

  /** GIF's dims rule: 16..31 × 12..19 gives a few hundred pixels per
    * image, enough to push the LZW dictionary past 511 entries on
    * low-entropy text (10-bit codes) at every SF; GifSpec covers the
    * 4096-entry clear-code reset with synthetic streams. */
  private val GifDims = Dims(16, 16, 12, 8)

  /** Encode→decode round trip with the real GIF codec, one palette
    * index per pixel; `wsum` catches positional corruption that the
    * plain sum misses. */
  def decodeGif(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Multimodal.roundTrip(Multimodal.mediaTable(spark, sfDir),
        GifDims, 1, (_, w, h, idx) => decode(encode(w, h, idx))) { (id, img) =>
      val (s, ws) = Multimodal.planeStats(img.pixels, 1)
      (id, img.width.toLong, img.height.toLong, s(0), ws)
    }.toDF("doc_id", "width", "height", "sum_idx", "wsum")
  }

  val decodeGifSql: String = ImageSql.over(GifDims,
    (ImageSql.WidthHeight +: ImageSql.chanSums(Seq("sum_idx"))) :+
      ImageSql.wsum("w*h"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode_gif" -> (decodeGif _))

  val oracles: Map[String, String] = Map(
    "multimodal_decode_gif" -> decodeGifSql)
}
