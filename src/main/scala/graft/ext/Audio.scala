package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Audio modality over the opaque-binary column model: a REAL RIFF/WAV
  * PCM16 codec (the third real public byte format next to
  * [[Multimodal.PpmCodec]] and BMP/PNG) plus the two passes a training
  * pipeline runs on decoded audio — per-channel stats and decimation.
  *
  * The WAV container (RIFF little-endian, `fmt ` + `data` chunks,
  * interleaved 16-bit signed PCM frames) is walked chunk-by-chunk: the
  * parser must skip unknown chunks (with the RIFF even-byte padding
  * rule) rather than assume the 44-byte canonical layout — the encoder
  * deliberately inserts a junk `LIST` chunk so a fixed-offset parser
  * fails the gate. Channel de-interleaving (frame f, channel c at
  * sample index f·ch + c) is proven by per-channel sums; sign handling
  * by the peak; scaling by the exact sum-of-squares energy.
  *
  * Scale: encode→decode→stats is partition-local map work over the
  * binary payloads (the same batch shape a JNI audio codec runs in);
  * zero shuffles, embarrassingly parallel at any corpus size. All stats
  * are exact Longs (energy ≤ frames · 2³⁰ — Long-safe to ~8e9 frames
  * per clip).
  */
object Audio {

  /** RIFF/WAVE, PCM (format tag 1), 16-bit little-endian. */
  object WavCodec {
    case class WavAudio(sampleRate: Int, channels: Int,
        samples: Array[Short])

    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def tag(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

    /** Standard writer, with one deliberate twist: a junk `LIST` chunk
      * between `fmt ` and `data` (3 bytes + 1 pad to the RIFF even-size
      * rule), so any decoder that hardcodes the 44-byte layout instead
      * of walking chunks reads garbage. */
    def encode(sampleRate: Int, channels: Int,
        samples: Array[Short]): Array[Byte] = {
      require(channels > 0 && samples.length % channels == 0, "frame align")
      val dataLen = 2 * samples.length
      val junk = tag("LIST") ++ le32(3) ++ Array[Byte]('i', 'n', 'f', 0)
      val fmt = tag("fmt ") ++ le32(16) ++ le16(1) ++ le16(channels) ++
        le32(sampleRate) ++ le32(sampleRate * channels * 2) ++
        le16(channels * 2) ++ le16(16)
      val data = tag("data") ++ le32(dataLen) ++
        samples.flatMap(s => le16(s & 0xffff))
      val body = tag("WAVE") ++ fmt ++ junk ++ data
      tag("RIFF") ++ le32(body.length) ++ body
    }

    /** Chunk-walking parser; None on anything malformed (bad magic,
      * non-PCM format tag, bit depth != 16, missing fmt/data, truncated
      * payload, frame-misaligned data). Unknown chunks are skipped with
      * the even-byte padding rule. */
    def decode(bytes: Array[Byte]): Option[WavAudio] = {
      def get16(off: Int): Int =
        (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
      def get32(off: Int): Int =
        get16(off) | (get16(off + 2) << 16)
      def tagAt(off: Int): String =
        new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (bytes.length < 12 || tagAt(0) != "RIFF" || tagAt(8) != "WAVE")
        return None
      var i = 12
      var rate = -1; var ch = -1; var bits = -1
      var dataOff = -1; var dataLen = -1
      while (i + 8 <= bytes.length && (dataOff < 0 || rate < 0)) {
        val id = tagAt(i)
        val len = get32(i + 4)
        if (len < 0 || i + 8 + len > bytes.length) return None
        if (id == "fmt ") {
          if (len < 16) return None
          if (get16(i + 8) != 1) return None // PCM only
          ch = get16(i + 10)
          rate = get32(i + 12)
          bits = get16(i + 22)
        } else if (id == "data") {
          dataOff = i + 8; dataLen = len
        }
        i += 8 + len + (len & 1) // RIFF pads odd chunks to even size
      }
      if (rate <= 0 || ch <= 0 || bits != 16 || dataOff < 0) return None
      if (dataLen % (2 * ch) != 0) return None
      val samples = new Array[Short](dataLen / 2)
      var s = 0
      while (s < samples.length) {
        samples(s) = get16(dataOff + 2 * s).toShort
        s += 1
      }
      Some(WavAudio(rate, ch, samples))
    }
  }

  /** Decoded-audio stats row: header fields AS PARSED + exact integer
    * signal stats from the de-interleaved samples. */
  case class WavDecoded(doc_id: Long, sample_rate: Long, channels: Long,
      n_frames: Long, sum_ch0: Long, sum_ch1: Long, peak_abs: Long,
      energy: Long)

  /** Deterministic per-doc PCM: overall sample i is text byte (i mod
    * len) mapped 0..255 → full 16-bit range via ×257 − 32768 (255·257 −
    * 32768 = 32767 exactly). Shared between encode side and oracle. */
  private def sampleAt(tb: Array[Byte], i: Int): Int =
    (tb(i % tb.length) & 0xff) * 257 - 32768

  private def clipParams(id: Long): (Int, Int, Int) =
    (8000 + (id % 3).toInt * 4000, 1 + (id % 2).toInt, 50 + (id % 30).toInt)

  private def decodedClips(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val (rate, ch, frames) = clipParams(id)
          val pcm = Array.tabulate(frames * ch)(i => sampleAt(tb, i).toShort)
          val wav = WavCodec.decode(WavCodec.encode(rate, ch, pcm))
            .getOrElse(sys.error(s"wav round-trip failed for doc $id"))
          (id, wav)
        }
      }
  }

  /** Encode→decode round trip with the REAL codec: every output field
    * comes from the PARSED container (rate/channels from the fmt chunk,
    * stats from the decoded sample array), while the oracle recomputes
    * them from the text directly — a header-offset, interleave, sign, or
    * padding bug hash-mismatches immediately. ASCII-corpus assumption as
    * in [[Multimodal.roundTrip]] (byte i == char i+1). */
  def decodeWav(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodedClips(spark, sfDir).map { case (id, wav) =>
      val ch = wav.channels
      val frames = wav.samples.length / ch
      var s0 = 0L; var s1 = 0L; var peak = 0L; var energy = 0L
      var i = 0
      while (i < wav.samples.length) {
        val v = wav.samples(i).toLong
        if (i % ch == 0) s0 += v else s1 += v
        val a = math.abs(v)
        if (a > peak) peak = a
        energy += v * v
        i += 1
      }
      WavDecoded(id, wav.sampleRate.toLong, ch.toLong, frames.toLong,
        s0, s1, peak, energy)
    }.toDF()
  }

  /** Decimation (the audio analog of image resize): keep every 2nd
    * frame of the DECODED signal — frame-aligned, so a stereo clip drops
    * whole (L,R) pairs, never de-pairs channels. Output stats of the
    * decimated signal prove the frame arithmetic. */
  def decimateWav(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodedClips(spark, sfDir).map { case (id, wav) =>
      val ch = wav.channels
      val frames = wav.samples.length / ch
      val kept = (frames + 1) / 2
      var s0 = 0L; var s1 = 0L; var peak = 0L; var energy = 0L
      var f = 0
      while (f < frames) {
        if (f % 2 == 0) {
          var c = 0
          while (c < ch) {
            val v = wav.samples(f * ch + c).toLong
            if (c == 0) s0 += v else s1 += v
            val a = math.abs(v)
            if (a > peak) peak = a
            energy += v * v
            c += 1
          }
        }
        f += 1
      }
      WavDecoded(id, wav.sampleRate.toLong / 2L, ch.toLong, kept.toLong,
        s0, s1, peak, energy)
    }.toDF()
  }

  /** Fingerprint window, in frames. */
  private val FpWindow = 8

  /** Energy-delta sign fingerprint of a decoded clip (channel 0):
    * window the signal into [[FpWindow]]-frame blocks, bit w = 1 iff
    * E(w+1) > E(w). Returns (n_windows, fingerprint). */
  private[graft] def fingerprintOf(wav: WavCodec.WavAudio): (Long, Long) = {
    val ch = wav.channels
    val frames = wav.samples.length / ch
    val nw = frames / FpWindow
    val e = Array.tabulate(nw) { w =>
      var s = 0L
      var f = w * FpWindow
      while (f < (w + 1) * FpWindow) {
        val v = wav.samples(f * ch).toLong
        s += v * v
        f += 1
      }
      s
    }
    var fp = 0L
    var w = 0
    while (w < nw - 1) {
      if (e(w + 1) > e(w)) fp |= 1L << w
      w += 1
    }
    (nw.toLong, fp)
  }

  /** Audio fingerprinting for dedup — the energy-delta sign bits of
    * Haitsma/Kalker 2002 ("A Highly Robust Audio Fingerprinting
    * System") collapsed to one band: window the decoded channel-0
    * signal into [[FpWindow]]-frame blocks and emit one bit per window
    * boundary — 1 iff the next window's exact energy exceeds this
    * one's. No FFT in either engine (the filterbank is out of scope);
    * what the operator keeps is the paper's BIT DERIVATION and its
    * robustness property — sign-of-delta bits are invariant under
    * amplitude scaling (energies scale by g², deltas keep their sign),
    * which the spec PROVES by re-encoding a clip at double gain and
    * getting the identical fingerprint. The fingerprint table is what
    * an audio-dedup join keys on (same banding machinery as
    * [[graft.ext.Dedup.simhashHamming]] applies downstream).
    *
    * Spark side runs through the REAL RIFF codec (encode→decode→
    * window); the oracle recomputes windows straight from the text
    * formula — so a codec offset/interleave bug breaks the gate.
    * Partition-local map work, zero shuffles. */
  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodedClips(spark, sfDir).map { case (id, wav) =>
      val (nw, fp) = fingerprintOf(wav)
      (id, nw, fp)
    }.toDF("doc_id", "n_windows", "fingerprint")
  }

  lazy val audioFingerprintSql: String = { // lazy: composes CTEs declared below
    val v = vExpr("f * ch")
    s"""WITH $clipCte,
       |en AS (SELECT doc_id, frames // $FpWindow AS nw,
       |    list_transform(range(0, CAST(frames // $FpWindow AS INTEGER)), w ->
       |      list_sum(list_prepend(0::BIGINT,
       |        list_transform(range(w * $FpWindow, (w + 1) * $FpWindow),
       |          f -> CAST($v AS BIGINT) * CAST($v AS BIGINT))))) AS e
       |  FROM wavd)
       |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
       |  CAST(list_sum(list_prepend(0::BIGINT,
       |    list_transform(range(0, CAST(nw - 1 AS INTEGER)), w ->
       |      CASE WHEN e[w + 2] > e[w + 1]
       |           THEN (1::BIGINT << CAST(w AS INTEGER)) ELSE 0::BIGINT END)))
       |    AS BIGINT) AS fingerprint
       |FROM en""".stripMargin
  }

  /** Oracle CTE shared by both gates: per-doc params + the sample
    * formula over overall index i. */
  private val clipCte: String =
    """wavd AS (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
      |    8000 + (doc_id % 3) * 4000 AS rate,
      |    1 + doc_id % 2 AS ch,
      |    50 + doc_id % 30 AS frames
      |  FROM documents WHERE length(text) > 0)""".stripMargin

  /** v(i) for DuckDB: same ×257 − 32768 map over the text bytes. */
  private def vExpr(iExpr: String): String =
    s"(ascii(substr(text, CAST(($iExpr) % len AS INTEGER) + 1, 1)) * 257 - 32768)"

  private def statsSelect(frameFilter: String, rateExpr: String,
      framesExpr: String): String = {
    val v = vExpr("i")
    s"""SELECT doc_id, CAST($rateExpr AS BIGINT) AS sample_rate,
       |  CAST(ch AS BIGINT) AS channels,
       |  CAST($framesExpr AS BIGINT) AS n_frames,
       |  CAST(list_sum(list_prepend(0::BIGINT, list_transform(idx, i ->
       |    CASE WHEN i % ch = 0 AND ($frameFilter) THEN CAST($v AS BIGINT) ELSE 0 END))) AS BIGINT) AS sum_ch0,
       |  CAST(list_sum(list_prepend(0::BIGINT, list_transform(idx, i ->
       |    CASE WHEN i % ch <> 0 AND ($frameFilter) THEN CAST($v AS BIGINT) ELSE 0 END))) AS BIGINT) AS sum_ch1,
       |  CAST(list_max(list_prepend(0::BIGINT, list_transform(idx, i ->
       |    CASE WHEN ($frameFilter) THEN abs(CAST($v AS BIGINT)) ELSE 0 END))) AS BIGINT) AS peak_abs,
       |  CAST(list_sum(list_prepend(0::BIGINT, list_transform(idx, i ->
       |    CASE WHEN ($frameFilter) THEN CAST($v AS BIGINT) * CAST($v AS BIGINT) ELSE 0 END))) AS BIGINT) AS energy
       |FROM (SELECT *, range(0, CAST(frames * ch AS INTEGER)) AS idx FROM wavd)""".stripMargin
  }

  val decodeWavSql: String =
    s"""WITH $clipCte
       |${statsSelect("TRUE", "rate", "frames")}""".stripMargin

  val decimateWavSql: String =
    s"""WITH $clipCte
       |${statsSelect("(i // ch) % 2 = 0", "rate // 2", "(frames + 1) // 2")}""".stripMargin

  /** Energy-threshold window length, in frames. */
  val EnergyWindowFrames = 16

  case class AudioEnergy(doc_id: Long, n_windows: Long, total_energy: Long,
      n_voiced: Long, first_voiced: Long, max_window_energy: Long)

  /** Windowed energy / voice-activity profile — the segmentation pass
    * an audio-training pipeline runs before transcription or chunking
    * (classic energy-threshold VAD, Rabiner & Sambur 1975): per
    * [[EnergyWindowFrames]]-frame window, the exact Σv² energy; a
    * window is "voiced" iff its energy is strictly above the clip mean
    * (cross-multiplied, `e·n_windows > total` — no division, exact on
    * both engines). `first_voiced` is the 1-based index of the first
    * voiced window (0 = none): the trim-leading-silence cut point.
    * Partial tail windows are dropped (stated both sides). Same
    * partition-local kernel shape as [[decodeWav]] — zero shuffles. */
  def audioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodedClips(spark, sfDir).map { case (id, wav) =>
      val ch = wav.channels
      val frames = wav.samples.length / ch
      val nw = frames / EnergyWindowFrames
      val wes = Array.tabulate(nw) { w =>
        var e = 0L
        var i = w * EnergyWindowFrames * ch
        val end = (w + 1) * EnergyWindowFrames * ch
        while (i < end) {
          val v = wav.samples(i).toLong
          e += v * v
          i += 1
        }
        e
      }
      val total = wes.sum
      val voiced = wes.map(e => e * nw > total)
      AudioEnergy(id, nw.toLong, total,
        voiced.count(identity).toLong,
        (voiced.indexOf(true) + 1).toLong, // -1 + 1 = 0 when none
        if (nw == 0) 0L else wes.max)
    }.toDF()
  }

  val audioEnergySql: String = {
    val v = vExpr("i")
    val wEnergy = // per-window exact Σv² as a BIGINT list
      s"list_transform(range(0, CAST(frames // $EnergyWindowFrames AS INTEGER)), w -> " +
        s"CAST(list_sum(list_prepend(0::BIGINT, list_transform(" +
        s"range(w*$EnergyWindowFrames*CAST(ch AS INTEGER), (w+1)*$EnergyWindowFrames*CAST(ch AS INTEGER)), " +
        s"i -> CAST($v AS BIGINT) * CAST($v AS BIGINT)))) AS BIGINT))"
    s"""WITH $clipCte,
       |wen AS (SELECT doc_id, frames // $EnergyWindowFrames AS nw,
       |    $wEnergy AS wes
       |  FROM wavd)
       |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
       |  CAST(list_sum(list_prepend(0::BIGINT, wes)) AS BIGINT)
       |    AS total_energy,
       |  CAST(len(list_filter(wes, e -> e * nw >
       |    list_sum(list_prepend(0::BIGINT, wes)))) AS BIGINT) AS n_voiced,
       |  CAST(COALESCE(list_position(list_transform(wes, e -> e * nw >
       |    list_sum(list_prepend(0::BIGINT, wes))), true), 0) AS BIGINT)
       |    AS first_voiced,
       |  CAST(CASE WHEN nw = 0 THEN 0 ELSE list_max(wes) END AS BIGINT)
       |    AS max_window_energy
       |FROM wen""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode_wav" -> (decodeWav _),
    "multimodal_audio_decimate" -> (decimateWav _),
    "multimodal_audio_fingerprint" -> (audioFingerprint _),
    "multimodal_audio_energy" -> (audioEnergy _))

  val oracles: Map[String, String] = Map(
    "multimodal_decode_wav" -> decodeWavSql,
    "multimodal_audio_decimate" -> decimateWavSql,
    "multimodal_audio_fingerprint" -> audioFingerprintSql,
    "multimodal_audio_energy" -> audioEnergySql)
}
