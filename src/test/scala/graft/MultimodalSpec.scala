package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.ext.Multimodal.{FakeCodec, MediaRow}

/** The multimodal pipeline's Spark-side plumbing is real (binary column,
  * typed encoders, partition-local decode loop, fan-out); only the codec
  * is a deterministic stub. These specs pin the plumbing. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("payload round-trips text bytes; media_type cycles by doc_id") {
    val rows = Multimodal.mediaTable(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      assert(new String(r.payload, "UTF-8") == texts(r.doc_id))
      val want = Seq("image", "audio", "video")((r.doc_id % 3).toInt)
      assert(r.media_type == want)
    }
  }

  test("mediaMeta == driver-side FakeCodec over collected payloads") {
    val viaSpark = Multimodal.mediaMeta(spark, sf)
      .collect().map(_.toString).toSet
    val viaDriver = Multimodal.mediaTable(spark, sf).collect()
      .map(FakeCodec.meta).toSeq.toDF().collect().map(_.toString).toSet
    assert(viaSpark == viaDriver)
  }

  test("frameSamples: only video rows, ceil(n/32) frames each") {
    val frames = Multimodal.frameSamples(spark, sf)
    val perDoc = frames.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val videos = Multimodal.mediaTable(spark, sf)
      .filter(col("media_type") === "video").collect()
    assert(videos.nonEmpty && perDoc.keySet == videos.map(_.doc_id).toSet)
    videos.foreach { v =>
      val want = (v.payload.length + FakeCodec.FrameStride - 1) / FakeCodec.FrameStride
      assert(perDoc(v.doc_id) == want.toLong)
    }
  }

  test("phash: banding finds planted value-noise near-dups exactly") {
    // The image near-dup case: same bytes with a few VALUES changed in
    // place (pixel noise), no stream shift. Plant two perturbed copies
    // and one unrelated payload; only the planted pairs may surface.
    val rng = new scala.util.Random(7)
    val base = Array.fill[Byte](600)((rng.nextInt(200) + 30).toByte)
    val nearA = base.clone(); nearA(17) = 3; nearA(430) = 127
    val nearB = base.clone(); nearB(99) = 0
    val far = Array.fill[Byte](600)((rng.nextInt(200) + 30).toByte)
    val ph = Seq(
      (1L, Multimodal.phashOf(base)), (2L, Multimodal.phashOf(nearA)),
      (3L, Multimodal.phashOf(nearB)), (4L, Multimodal.phashOf(far)))
      .toDF("doc_id", "phash")
    val pairs = Multimodal.phashPairs(ph)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((2L, 3L)), s"planted near-dups must be found: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated payload must not pair: $pairs")
  }

  test("phash: hamming to a value-noise copy ≪ hamming to unrelated bytes") {
    val rng = new scala.util.Random(11)
    val base = Array.fill[Byte](900)((rng.nextInt(220) + 20).toByte)
    val noisy = base.clone()
    (0 until 9).foreach(i => noisy(i * 100) = (rng.nextInt(255) - 128).toByte)
    val other = Array.fill[Byte](900)((rng.nextInt(220) + 20).toByte)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hNear = ham(Multimodal.phashOf(base), Multimodal.phashOf(noisy))
    val hFar = ham(Multimodal.phashOf(base), Multimodal.phashOf(other))
    assert(hNear <= Multimodal.PhashHammingMax, s"value noise moved $hNear bits")
    assert(hFar > Multimodal.PhashHammingMax, s"unrelated only $hFar bits apart")
  }

  test("PpmCodec: decodes a hand-written P6 with comments, exact pixels") {
    val header = "P6\n# a comment\n2 2\n# another\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val pixels = Array[Byte](
      10, 20, 30,  40, 50, 60,
      70, 80, 90,  100, 110, 127)
    val img = Multimodal.PpmCodec.decode(header ++ pixels)
    assert(img.isDefined)
    assert(img.get.width == 2 && img.get.height == 2 && img.get.maxval == 255)
    assert(img.get.pixels.toSeq == pixels.toSeq)
  }

  test("PpmCodec: rejects malformed input") {
    val good = Multimodal.PpmCodec.encode(2, 2, 255, new Array[Byte](12))
    assert(Multimodal.PpmCodec.decode(good).isDefined)
    // wrong magic (P5 = greyscale, not handled by this RGB decoder)
    assert(Multimodal.PpmCodec.decode(
      "P5\n2 2\n255\n".getBytes ++ new Array[Byte](12)).isEmpty)
    // truncated pixel plane
    assert(Multimodal.PpmCodec.decode(good.dropRight(1)).isEmpty)
    // missing header field
    assert(Multimodal.PpmCodec.decode("P6\n2\n255\n".getBytes).isEmpty)
    // maxval out of byte range
    assert(Multimodal.PpmCodec.decode(
      "P6\n2 2\n65535\n".getBytes ++ new Array[Byte](24)).isEmpty)
    // empty / garbage
    assert(Multimodal.PpmCodec.decode(Array.emptyByteArray).isEmpty)
    assert(Multimodal.PpmCodec.decode("JFIF".getBytes).isEmpty)
  }

  test("BmpCodec: golden byte fixture pins BGR order, bottom-up rows, padding") {
    // 2×2 RGB image, row-major top-down:
    //   (10,20,30) (40,50,60)
    //   (70,80,90) (100,110,120)
    val rgb = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val bytes = Multimodal.BmpCodec.encode(2, 2, rgb)
    // Hand-derived layout: 54-byte header, rowSize = (3*2+3)/4*4 = 8
    // (2 pad bytes per row), BOTTOM row first, each pixel B,G,R.
    assert(bytes.length == 54 + 8 * 2)
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    def get32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    assert(get32(2) == bytes.length && get32(10) == 54)
    assert(get32(18) == 2 && get32(22) == 2)
    assert((bytes(28) & 0xff) == 24 && get32(30) == 0)
    val plane = bytes.drop(54).toSeq
    assert(plane == Seq[Byte](
      90, 80, 70, 120, 110, 100, 0, 0, // bottom row (y=1), BGR + 2 pad
      30, 20, 10, 60, 50, 40, 0, 0))   // top row (y=0), BGR + 2 pad
    // Decode of the fixture restores the original top-down RGB exactly.
    val img = Multimodal.BmpCodec.decode(bytes)
    assert(img.isDefined)
    assert(img.get.width == 2 && img.get.height == 2)
    assert(img.get.pixels.toSeq == rgb.toSeq)
  }

  test("BmpCodec: rejects malformed input") {
    val good = Multimodal.BmpCodec.encode(2, 2, new Array[Byte](12))
    assert(Multimodal.BmpCodec.decode(good).isDefined)
    // wrong magic
    assert(Multimodal.BmpCodec.decode("XX".getBytes ++ good.drop(2)).isEmpty)
    // truncated pixel data
    assert(Multimodal.BmpCodec.decode(good.dropRight(1)).isEmpty)
    // 8bpp (palette) rejected
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(Multimodal.BmpCodec.decode(bpp8).isEmpty)
    // compressed (BI_RLE8) rejected
    val rle = good.clone(); rle(30) = 1
    assert(Multimodal.BmpCodec.decode(rle).isEmpty)
    // empty / garbage
    assert(Multimodal.BmpCodec.decode(Array.emptyByteArray).isEmpty)
    assert(Multimodal.BmpCodec.decode("JFIF".getBytes).isEmpty)
  }

  test("PngCodec: round trip restores exact pixels through every filter") {
    // Heights 1..7: rows cycle filters None/Sub/Up/Average/Paeth, so
    // h >= 5 exercises ALL five inverses against real deflate output.
    for (w <- Seq(1, 2, 5); h <- Seq(1, 4, 7)) {
      val rgb = Array.tabulate(3 * w * h)(i => ((i * 37 + 11) % 256).toByte)
      val img = Multimodal.PngCodec.decode(Multimodal.PngCodec.encode(w, h, rgb))
      assert(img.isDefined, s"decode failed at ${w}x$h")
      assert(img.get.width == w && img.get.height == h)
      assert(img.get.pixels.toSeq == rgb.toSeq, s"pixel drift at ${w}x$h")
    }
  }

  test("PngCodec: hand-built stored-deflate fixture pins Sub and Paeth inverses") {
    // 2×2 image, scanlines hand-FILTERED: row0 Sub, row1 Paeth. The
    // zlib stream uses a STORED deflate block, so these bytes are fixed
    // independent of any Deflater implementation — a true golden input.
    val want = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val scan = Array[Byte](
      1, 10, 20, 30, 30, 30, 30,  // Sub: second pixel stored as cur-left
      4, 60, 60, 60, 30, 30, 30)  // Paeth: row-0/left predictors undone
    val adler = new java.util.zip.Adler32(); adler.update(scan)
    val a = adler.getValue
    val zlib = Array[Byte](0x78, 0x01, // zlib header
        0x01, // BFINAL=1, BTYPE=00 (stored)
        (scan.length & 0xff).toByte, ((scan.length >> 8) & 0xff).toByte,
        (~scan.length & 0xff).toByte, ((~scan.length >> 8) & 0xff).toByte) ++
      scan ++
      Array((a >>> 24).toByte, (a >>> 16).toByte, (a >>> 8).toByte, a.toByte)
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val td = tpe.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32(); crc.update(td)
      val c = crc.getValue
      Array((data.length >>> 24).toByte, (data.length >>> 16).toByte,
        (data.length >>> 8).toByte, data.length.toByte) ++ td ++
        Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte)
    }
    val ihdr = Array[Byte](0, 0, 0, 2, 0, 0, 0, 2, 8, 2, 0, 0, 0)
    val png = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zlib) ++
      chunk("IEND", Array.emptyByteArray)
    val img = Multimodal.PngCodec.decode(png)
    assert(img.isDefined, "fixture rejected")
    assert(img.get.width == 2 && img.get.height == 2)
    assert(img.get.pixels.toSeq == want.toSeq)
  }

  test("PngCodec: rejects malformed input") {
    val good = Multimodal.PngCodec.encode(2, 3, new Array[Byte](18))
    assert(Multimodal.PngCodec.decode(good).isDefined)
    // wrong signature
    assert(Multimodal.PngCodec.decode("XPNG".getBytes ++ good.drop(4)).isEmpty)
    // one flipped byte inside IDAT -> chunk CRC mismatch
    val corrupt = good.clone()
    corrupt(good.length - 16) = (corrupt(good.length - 16) ^ 0x5a).toByte
    assert(Multimodal.PngCodec.decode(corrupt).isEmpty)
    // truncated file
    assert(Multimodal.PngCodec.decode(good.dropRight(8)).isEmpty)
    // grayscale color type rejected (re-CRC'd so only IHDR differs)
    val gray = good.clone(); gray(8 + 8 + 9) = 0
    val reCrc = new java.util.zip.CRC32(); reCrc.update(gray, 12, 17)
    val c = reCrc.getValue
    gray(29) = (c >>> 24).toByte; gray(30) = (c >>> 16).toByte
    gray(31) = (c >>> 8).toByte; gray(32) = c.toByte
    assert(Multimodal.PngCodec.decode(gray).isEmpty)
    assert(Multimodal.PngCodec.decode(Array.emptyByteArray).isEmpty)
    assert(Multimodal.PngCodec.decode("JFIF".getBytes).isEmpty)

    def reChunk(png: Array[Byte], chunkOff: Int, dataLen: Int): Array[Byte] = {
      val out = png.clone()
      val crc = new java.util.zip.CRC32()
      crc.update(out, chunkOff + 4, 4 + dataLen)
      val c = crc.getValue
      val co = chunkOff + 8 + dataLen
      out(co) = (c >>> 24).toByte; out(co + 1) = (c >>> 16).toByte
      out(co + 2) = (c >>> 8).toByte; out(co + 3) = c.toByte
      out
    }
    // zlib FDICT flag set (preset dictionary) — must reject, not hang.
    val fdict = good.clone()
    fdict(8 + 25 + 8) = 0x78.toByte; fdict(8 + 25 + 9) = 0x20.toByte
    assert(Multimodal.PngCodec.decode(
      reChunk(fdict, 8 + 25, good.length - (8 + 25) - 12 - 12)).isEmpty)
    // Overflowing IHDR dims (2^30 x 2^30) pass a >0 check but must not
    // reach a negative-size allocation.
    val huge = good.clone()
    huge(16) = 0x40.toByte; huge(17) = 0; huge(18) = 0; huge(19) = 0
    huge(20) = 0x40.toByte; huge(21) = 0; huge(22) = 0; huge(23) = 0
    assert(Multimodal.PngCodec.decode(reChunk(huge, 8, 13)).isEmpty)
  }

  test("decodePng: stats equal a driver-side recompute from the raw text") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)].collect()
    val want = rows.map { case (id, text) =>
      val tb = text.getBytes("UTF-8")
      val w = 2 + (id % 6).toInt; val h = 3 + (id % 5).toInt
      var r = 0L; var g = 0L; var b = 0L; var ws = 0L
      for (j <- 0 until 3 * w * h) {
        val v = tb(j % tb.length) & 0xffL
        (j % 3: @unchecked) match {
          case 0 => r += v; case 1 => g += v; case 2 => b += v
        }
        ws += j * v
      }
      id -> ((w.toLong, h.toLong, r, g, b, ws))
    }.toMap
    val got = Multimodal.decodePng(spark, sf)
      .as[Multimodal.RgbStats].collect()
    assert(got.length == want.size)
    got.foreach { d =>
      assert(want(d.doc_id) ==
        ((d.width, d.height, d.sum_r, d.sum_g, d.sum_b, d.wsum)),
        s"doc ${d.doc_id} stats diverge from the raw-text recompute")
    }
  }

  test("resizePng: nearest-neighbor thumbnail equals a driver-side recompute") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)].collect()
    val want = rows.map { case (id, text) =>
      val tb = text.getBytes("UTF-8")
      val w = 2 + (id % 6).toInt; val h = 3 + (id % 5).toInt
      var r = 0L; var g = 0L; var b = 0L; var ws = 0L
      for (j <- 0 until 48) {
        val p = j / 3; val off = j % 3
        val sx = (p % 4) * w / 4; val sy = (p / 4) * h / 4
        val v = tb((3 * (sy * w + sx) + off) % tb.length) & 0xffL
        (off: @unchecked) match {
          case 0 => r += v; case 1 => g += v; case 2 => b += v
        }
        ws += j * v
      }
      id -> ((r, g, b, ws))
    }.toMap
    val got = Multimodal.resizePng(spark, sf)
      .as[Multimodal.PngResized].collect()
    assert(got.length == want.size)
    // Up- and downscale both present (src dims straddle the 4x4 target).
    assert(got.exists(_.src_w < 4) && got.exists(_.src_w > 4))
    got.foreach { d =>
      assert(want(d.doc_id) == ((d.sum_r, d.sum_g, d.sum_b, d.wsum)),
        s"doc ${d.doc_id} resized stats diverge")
    }
  }

  test("decodeBmp: wsum is position-sensitive (catches a row-order bug)") {
    val out = Multimodal.decodeBmp(spark, sf)
      .as[Multimodal.RgbStats].collect()
    assert(out.nonEmpty)
    out.foreach { d =>
      assert(d.width == 2 + d.doc_id % 5 && d.height == 2 + d.doc_id % 4)
      assert(d.sum_r > 0 && d.sum_g > 0 && d.sum_b > 0)
    }
    // Recompute one row's wsum from first principles and from a
    // deliberately row-flipped plane: they must differ (h ≥ 2 and the
    // corpus rows are not palindromic), proving the stat would catch a
    // decoder that forgot to undo bottom-up storage.
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    val d0 = out.head
    val tb = docs(d0.doc_id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (w, h) = (d0.width.toInt, d0.height.toInt)
    val rgb = Array.tabulate(3 * w * h)(i => tb(i % tb.length))
    def wsumOf(plane: Array[Byte]): Long =
      plane.zipWithIndex.map { case (v, j) => j.toLong * (v & 0xffL) }.sum
    assert(d0.wsum == wsumOf(rgb))
    val flipped = (0 until h).reverse.toArray
      .flatMap(y => rgb.slice(3 * y * w, 3 * (y + 1) * w))
    assert(wsumOf(flipped) != d0.wsum)
  }

  test("phashLuma: luma plane drives the hash; equals driver-side recompute") {
    val got = Multimodal.phashLuma(spark, sf)
      .as[Multimodal.PhashRow].collect().sortBy(_.doc_id)
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    got.take(16).foreach { row =>
      val tb = docs(row.doc_id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 4 + (row.doc_id % 5).toInt
      val h = 4 + (row.doc_id % 3).toInt
      val luma = Array.tabulate(w * h) { p =>
        def px(i: Int): Int = tb(i % tb.length) & 0xff
        ((299 * px(3 * p) + 587 * px(3 * p + 1) + 114 * px(3 * p + 2)) / 1000).toByte
      }
      assert(row.phash == Multimodal.phashOf(luma),
        s"luma phash mismatch for doc ${row.doc_id}")
    }
  }

  test("decodePpm: header fields come from the parse, sums from the plane") {
    val out = Multimodal.decodePpm(spark, sf)
      .as[MultimodalSpec.PpmStats].collect()
    assert(out.nonEmpty)
    out.foreach { d =>
      assert(d.width == 2 + d.doc_id % 4 && d.height == 2 + d.doc_id % 3)
      assert(d.maxval == 255)
      assert(d.sum_r > 0 && d.sum_g > 0 && d.sum_b > 0)
    }
  }

  test("imageHistogram: bins partition the plane; luma recompute agrees") {
    import spark.implicits._
    val rows = ext.Multimodal.imageHistogram(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length($"text") > 0)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = r.getAs[Long]("width").toInt
      val h = r.getAs[Long]("height").toInt
      val bins = (0 to 7).map(b => r.getAs[Long](s"h$b"))
      assert(bins.sum == w * h, s"doc $id: bins must partition the plane")
      // Independent recompute straight from the text bytes (codec-blind).
      val tb = texts(id).getBytes("UTF-8")
      val want = new Array[Long](8)
      for (p <- 0 until w * h) {
        def px(i: Int) = tb(i % tb.length) & 0xff
        val lum = (77 * px(3 * p) + 150 * px(3 * p + 1) +
          29 * px(3 * p + 2)) / 256
        want(math.min(lum / 16, 7)) += 1
      }
      assert(bins == want.toSeq, s"doc $id histogram diverged")
    }
    // The corpus populates more than one bin overall (contrast exists).
    val totals = (0 to 7).map(b => rows.map(_.getAs[Long](s"h$b")).sum)
    assert(totals.count(_ > 0) >= 2)
  }

  private val testDims = Multimodal.Dims(2, 5, 2, 4)

  /** The BMP codec with `decoded` applied to its output: the seam the
    * broken-codec cases below drive. */
  private def bmpThen(decoded: Multimodal.BmpCodec.BmpImage => Option[Multimodal.BmpCodec.BmpImage])
      : (Long, Int, Int, Array[Byte]) => Option[Multimodal.BmpCodec.BmpImage] =
    (_, w, h, rgb) => Multimodal.BmpCodec.decode(
      Multimodal.BmpCodec.encode(w, h, rgb)).flatMap(decoded)

  test("round trip: a decode that returns None fails the query, naming the doc") {
    val rows = Multimodal.mediaTable(spark, sf)
    val bad = rows.collect().filter(_.payload.nonEmpty).map(_.doc_id).max
    val good = bmpThen(Some(_))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.rgbStats(rows, testDims, (id: Long, w: Int, h: Int, rgb: Array[Byte]) =>
        if (id == bad) None else good(id, w, h, rgb)).collect()
    }
    assert(e.getMessage.contains(s"round-trip decode failed for doc $bad"),
      e.getMessage)
  }

  test("round trip: a codec that swaps two rows is caught by the stats") {
    // Reports the requested dims, but rows 0 and 1 come back swapped.
    val swapped = bmpThen { img =>
      val s = 3 * img.width
      val px = img.pixels.clone()
      System.arraycopy(img.pixels, s, px, 0, s)
      System.arraycopy(img.pixels, 0, px, s, s)
      Some(img.copy(pixels = px))
    }
    val rows = Multimodal.mediaTable(spark, sf)
    val texts = rows.collect().filter(_.payload.nonEmpty)
      .map(r => r.doc_id -> r.payload).toMap
    val got = Multimodal.rgbStats(rows, testDims, swapped).collect()
    assert(got.length == texts.size)
    var differing = 0
    got.foreach { d =>
      val tb = texts(d.doc_id)
      val (w, h) = testDims(d.doc_id)
      val plane = Array.tabulate(3 * w * h)(i => tb(i % tb.length))
      val (sums, ws) = Multimodal.planeStats(plane, 3)
      val want = Multimodal.RgbStats(d.doc_id, w, h, sums(0), sums(1), sums(2), ws)
      assert((d.width, d.height) == ((w.toLong, h.toLong)))
      // Swapping rows a and b moves wsum by row_len·(Σa − Σb), so wsum
      // sees every swap of two rows whose byte sums differ.
      def rowSum(y: Int) = plane.slice(3 * w * y, 3 * w * (y + 1)).map(_ & 0xffL).sum
      if (rowSum(0) != rowSum(1)) {
        assert(d != want, s"doc ${d.doc_id}: a row swap went unseen")
        differing += 1
      }
    }
    assert(differing > 0)
  }

  test("metadata-only consumers prune the payload column at the scan") {
    // Leaf scans (parquet or a cached InMemoryTableScan) must read only
    // doc_id — neither text nor the derived payload column.
    val plan = Multimodal.mediaTable(spark, sf)
      .select("doc_id", "media_type")
      .queryExecution.executedPlan
    val leaves = plan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { leaf =>
      val cols = leaf.output.map(_.name).toSet
      assert(!cols.contains("text") && !cols.contains("payload"),
        s"scan not pruned: $leaf")
    }
  }
}

object MultimodalSpec {
  /** `multimodal_decode_ppm`'s row. */
  case class PpmStats(doc_id: Long, width: Long, height: Long, maxval: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)
}
