package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Hashing._

/** Exact substring-span deduplication signals — the distributed form of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"): find spans of K consecutive words that recur across
  * documents, and score each document by how much of it is covered by
  * cross-document duplicated spans.
  *
  * The reference algorithm builds a corpus suffix array to find
  * arbitrary-length duplicated substrings; the scale-stable distributed
  * approximation is fixed-K rolling-hash spans (a duplicated substring
  * of length >= K contains a duplicated K-span, so recall at granularity
  * K is complete — the standard trade in production pipelines).
  *
  * Scale shape: one corpus scan; span hashes come out of a codegen'd
  * kernel (position order, multiplicity preserved — NOT the set-semantic
  * shingle kernel, because occurrence counts matter here); the explode
  * feeds a map-side-combinable groupBy(h); the per-doc coverage is one
  * keyed join on h.
  *
  * Hash width: the gated path runs on the WIDENED span hash — two
  * independent 31-bit families (base-31/base-37 word hashes folded with
  * 1000003/1000033) packed into one sub-2^62 Long, so a false span needs
  * a simultaneous collision in both families (~n²/2^62 — fine at 100 TB
  * span counts, where the old single family's ~n²/2^31 was not). The
  * pack stays inside DuckDB's checked BIGINT range, so the oracle
  * replays it exactly. SubstringSpec additionally runs the exact
  * verify over the corpus: every span-hash group must contain exactly
  * one distinct span TEXT (zero false spans, proven not assumed), and a
  * crafted 31-bit collision demonstrates the widened kernel separating
  * spans the old family conflated.
  */
object Substring {

  /** Span length in words. On the synthetic corpus K=5 yields ~1.1k
    * cross-doc duplicated spans at every SF (measured at sf0.001 and
    * sf0.01) — non-vacuous but far from saturated. */
  private val SpanK = 5

  /** Shared span length for the spec's verify pass. */
  private[graft] val K: Int = SpanK

  /** (doc_id, h) — one row per span occurrence, widened hash. */
  private def spans(spark: SparkSession, sfDir: String): DataFrame =
    spansOf(Tables.documents(spark, sfDir))

  /** [[spans]] over an explicit (doc_id, text) frame — SubstringSpec's
    * seam for the exact-verify pass and planted-collision cases. */
  private[graft] def spansOf(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      explode(spanHashes64(wordHashes(col("text")),
        wordHashes37(col("text")), SpanK)).as("h"))
  }

  private val spansSqlCte: String =
    s"""w AS (SELECT doc_id, ${wordHashesSql("text")} AS w1,
       |  ${wordHashes37Sql("text")} AS w2 FROM documents),
       |sp AS (SELECT doc_id, unnest(${spanHashes64Sql("w1", "w2", SpanK)}) AS h FROM w)""".stripMargin

  /** Cross-document duplicated spans: every K-word span hash occurring in
    * >= 2 distinct documents, with its document reach, total occurrence
    * count, and first (minimum) document. */
  def duplicatedSpans(spark: SparkSession, sfDir: String): DataFrame =
    spans(spark, sfDir)
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  val duplicatedSpansSql: String =
    s"""WITH $spansSqlCte
       |SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  MIN(doc_id) AS first_doc
       |FROM sp GROUP BY h
       |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin

  /** Per-document duplicated-span coverage — the Lee et al. removal
    * signal: of a doc's spans, how many are duplicated ACROSS documents
    * (span hashes this doc shares with at least one other doc).
    *
    * Checkpoint-free single pass (round-17; previously checkpoint +
    * groupBy(h) + join-back): "span hash in ≥ 2 distinct docs" ⟺
    * min(doc_id) ≠ max(doc_id) over the h window — the [[longestDupOf]]
    * trick — so the span frame is consumed ONCE through one window
    * exchange and one (doc_id) aggregate. The old shape lineage-cut the
    * span frame (~10× the corpus in bytes: a 24 B (doc_id, h) row per
    * source word); the r16 sf30 audit showed exactly that
    * MEMORY_AND_DISK class outgrowing the storage pool one decade past
    * where it was tuned (quality_boilerplate, 46×) — never cache a
    * frame whose bytes dwarf the corpus when the kernel that builds it
    * is one codegen'd projection. */
  def spanCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = Window.partitionBy(col("h"))
    spans(spark, sfDir)
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L))
          .as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_span_frac"))
  }

  val spanCoverageSql: String =
    s"""WITH $spansSqlCte,
       |dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT sp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS dup_span_frac
       |FROM sp LEFT JOIN dup ON sp.h = dup.h
       |GROUP BY sp.doc_id""".stripMargin

  // ------------------------------------------------ multi-granularity pass

  /** Span granularities for the multiscale pass. 5 is the base recall
    * tier (any duplicated run ≥ 5 words is caught); 16 ≈ a sentence; 64
    * ≈ the ≥ 50-token boilerplate blocks Lee et al. 2022 excise via a
    * corpus suffix array. A doc whose coverage fires at 64 but the
    * corpus average fires only at 5 carries LONG verbatim repeats —
    * excision material — while 5-only coverage is idiom/collocation
    * noise. Bounded-length multi-granularity is the distributed stand-in
    * for the suffix array's arbitrary-length reporting: length
    * resolution at 3 octave-ish steps instead of exact, at one corpus
    * scan instead of a global sort. */
  private[graft] val Scales = Seq(5, 16, 64)

  /** Per-document duplicated-span coverage at each granularity in
    * [[Scales]] — long format (doc_id, k, n_spans, n_dup_spans,
    * dup_span_frac), rows only for docs with ≥ k words.
    *
    * Scale shape: ONE corpus scan (word-hash arrays projected once,
    * then all three spans arrays from the same in-stage arrays — the
    * concat-of-tagged-transforms trick keeps it a single codegen'd
    * projection); one explode ≤ 3× the base span count; then one (k, h)
    * window exchange + one (doc_id, k) aggregate — two shuffles of the
    * span frame total, no cache anywhere. */
  def multiscaleCoverage(spark: SparkSession, sfDir: String): DataFrame =
    multiscaleCoverageOf(Tables.documents(spark, sfDir))

  /** [[multiscaleCoverage]] over an explicit (doc_id, text) frame —
    * the planted long-repeat spec's seam. */
  private[graft] def multiscaleCoverageOf(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"),
      wordHashes(col("text")).as("w1"), wordHashes37(col("text")).as("w2"))
    val tagged = Scales.map { k =>
      transform(spanHashes64(col("w1"), col("w2"), k),
        h => struct(lit(k.toLong).as("k"), h.as("h")))
    }
    // Checkpoint-free (round-17): dup ⟺ min≠max doc_id over the (k, h)
    // window — see [[spanCoverage]]. The 3-scale span frame was ~30× the
    // corpus in bytes when lineage-cut; the sf30-uniform session read
    // this key at 9.1× per 3× data from exactly that storage cliff.
    val wkh = Window.partitionBy(col("k"), col("h"))
    w.select(col("doc_id"), explode(concat(tagged: _*)).as("kh"))
      .select(col("doc_id"), col("kh.k").as("k"), col("kh.h").as("h"))
      .withColumn("mn", min(col("doc_id")).over(wkh))
      .withColumn("mx", max(col("doc_id")).over(wkh))
      .groupBy(col("doc_id"), col("k"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L))
          .as("n_dup_spans"))
      .select(col("doc_id"), col("k"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_span_frac"))
  }

  val multiscaleCoverageSql: String = {
    val legs = Scales.map(k =>
      s"""SELECT doc_id, CAST($k AS BIGINT) AS k,
         |  unnest(${spanHashes64Sql("w1", "w2", k)}) AS h FROM w"""
        .stripMargin).mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, ${wordHashesSql("text")} AS w1,
       |  ${wordHashes37Sql("text")} AS w2 FROM documents),
       |msp AS ($legs),
       |mdup AS (SELECT k, h FROM msp GROUP BY k, h
       |  HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT msp.doc_id, msp.k, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN mdup.h IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_spans,
       |  CAST(SUM(CASE WHEN mdup.h IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_span_frac
       |FROM msp LEFT JOIN mdup ON msp.k = mdup.k AND msp.h = mdup.h
       |GROUP BY msp.doc_id, msp.k""".stripMargin
  }

  // ------------------------------------------------ excision tier

  /** Excision granularity: the long tier of [[Scales]] — the ≥ 50-token
    * verbatim blocks Lee et al. 2022 remove. */
  private[graft] val ExciseK = 64

  /** 70-word planted template (the [[Footer]] pattern, long-tier): the
    * synthetic corpus has no organic 64-word cross-doc repeats, so the
    * gate plants one deterministically in BOTH engines — fire and
    * not-fire proven at every SF. */
  private[graft] val LongFooter: String =
    (1 to 70).map(i => s"exw$i").mkString(" ")

  /** Docs with doc_id ≡ 4 (mod 9) carry the long template; 9 is coprime
    * to the 20-source cycle, so every source receives planted docs. */
  private[graft] def withLongFooter(docs: DataFrame): DataFrame =
    docs.withColumn("aug",
      when(col("doc_id") % 9 === 4, concat(col("text"), lit(" " + LongFooter)))
        .otherwise(col("text")))

  /** Keep-first excision report — what a curation pipeline DELETES:
    * every occurrence of a cross-document duplicated [[ExciseK]]-word
    * span outside the span's first (minimum doc_id) document is marked
    * for removal; overlapping marked spans are UNIONED into covered
    * word intervals (equal-length intervals sorted by position make the
    * union a lag-delta sum — `min(K, pos − prev_pos)` — no interval
    * tree). Output per doc (≥ K words; shorter docs have no K-spans and
    * nothing to excise): total words, excised span occurrences, excised
    * WORD count, and the retained permille.
    *
    * Within-first-doc repeats are kept (keep-first is a cross-document
    * rule — the canonical copy keeps its own internal structure).
    *
    * Scale shape: one corpus scan (positional spans via posexplode of
    * the same widened kernel), one (h) window exchange for the
    * dup/first-doc flags, one (doc_id, pos) window exchange for the
    * interval union, one (doc_id) aggregate riding the second
    * exchange's partitioning; n_words rides the span count
    * (n_spans + K − 1), so no second scan and no cache. */
  def exciseReport(spark: SparkSession, sfDir: String): DataFrame =
    exciseOf(withLongFooter(Tables.documents(spark, sfDir)))

  /** [[exciseReport]] over an explicit (doc_id, aug) frame — the
    * planted-template spec's seam. */
  private[graft] def exciseOf(docs: DataFrame): DataFrame = {
    // Checkpoint-free (round-17): the positional span frame previously
    // fed two consumers (first-doc/dup set + per-doc word counts)
    // through a localCheckpoint — the storage-cliff class the r16 sf30
    // audit flagged (see [[spanCoverage]]). Rewritten as one chain:
    // "dup ∧ not first doc" is min≠max ∧ doc_id≠min over the h window;
    // the interval union's "previous excised position" is a running
    // conditional max over the (doc_id, pos) window (positions ascend,
    // so max-of-preceding-excised-pos IS the previous excised pos); the
    // final (doc_id) aggregate then reads spans ONCE for word counts
    // and excision sums alike. Two exchanges of the span frame, no
    // cache, and the third shuffle (the old join-back) is gone.
    val wh = Window.partitionBy(col("h"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        posexplode(spanHashes64(wordHashes(col("aug")),
          wordHashes37(col("aug")), ExciseK)).as(Seq("pos", "h")))
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .withColumn("exc", col("mn") =!= col("mx") && col("doc_id") =!= col("mn"))
      .withColumn("prev",
        max(when(col("exc"), col("pos"))).over(wd))
      .withColumn("add",
        when(!col("exc"), lit(0L))
          .when(col("prev").isNull, lit(ExciseK.toLong))
          .otherwise(least(lit(ExciseK.toLong),
            (col("pos") - col("prev")).cast("long"))))
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) + (ExciseK - 1)).as("n_words"),
        sum(when(col("exc"), 1L).otherwise(0L)).as("n_excised_spans"),
        sum(col("add")).as("n_excised_words"))
      .select(col("doc_id"), col("n_words"), col("n_excised_spans"),
        col("n_excised_words"),
        expr("(n_words - n_excised_words) * 1000 div n_words")
          .cast("long").as("retained_pm"))
  }

  val exciseReportSql: String =
    s"""WITH ef AS (SELECT doc_id,
       |  CASE WHEN doc_id % 9 = 4 THEN text || ' $LongFooter'
       |       ELSE text END AS aug FROM documents),
       |ew AS (SELECT doc_id, ${wordHashesSql("aug")} AS w1,
       |  ${wordHashes37Sql("aug")} AS w2 FROM ef),
       |esp AS (SELECT doc_id,
       |  unnest(${spanHashes64Sql("w1", "w2", ExciseK)}) AS h,
       |  generate_subscripts(${spanHashes64Sql("w1", "w2", ExciseK)}, 1)
       |    AS pos FROM ew),
       |efd AS (SELECT h, MIN(doc_id) AS first_doc FROM esp GROUP BY h
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |exc AS (SELECT esp.doc_id, esp.pos FROM esp
       |  JOIN efd ON esp.h = efd.h WHERE esp.doc_id <> efd.first_doc),
       |lagd AS (SELECT doc_id, pos,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM exc),
       |cov AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN prev IS NULL THEN $ExciseK
       |      ELSE LEAST($ExciseK, pos - prev) END) AS BIGINT)
       |      AS n_excised_words,
       |    CAST(COUNT(*) AS BIGINT) AS n_excised_spans
       |  FROM lagd GROUP BY 1),
       |nw AS (SELECT doc_id,
       |    CAST(COUNT(*) + ${ExciseK - 1} AS BIGINT) AS n_words
       |  FROM esp GROUP BY 1)
       |SELECT nw.doc_id, n_words,
       |  COALESCE(n_excised_spans, 0) AS n_excised_spans,
       |  COALESCE(n_excised_words, 0) AS n_excised_words,
       |  CAST((n_words - COALESCE(n_excised_words, 0)) * 1000 // n_words
       |    AS BIGINT) AS retained_pm
       |FROM nw LEFT JOIN cov ON nw.doc_id = cov.doc_id""".stripMargin

  // ------------------------------------------------ per-source boilerplate

  /** The template footer planted for the boilerplate gate — 12 words, so
    * every planted doc contributes 12 − K + 1 = 8 identical footer-internal
    * spans (the ≤ K−1 spans straddling the text/footer seam differ per doc
    * because the preceding text differs). */
  private[graft] val Footer =
    " subscribe to our newsletter follow the daily terms of service apply here"

  /** Docs with doc_id ≡ 3 (mod 7) carry the footer. 7 is coprime to the
    * corpus's source cycle (source = src(doc_id mod 20)), so EVERY source
    * receives ~1/7 of its docs planted — the detector must fire in all 20
    * sources and stay silent on the other ~6/7 of each source's docs. */
  private[graft] def withFooter(docs: DataFrame): DataFrame =
    docs.withColumn("aug",
      when(col("doc_id") % 7 === 3, concat(col("text"), lit(Footer)))
        .otherwise(col("text")))

  /** Per-source boilerplate span coverage — the CCNet/RefinedWeb
    * "template removal" signal: of a doc's K-word spans, how many recur
    * in ANOTHER document of the SAME source. Differs from
    * [[spanCoverage]] (corpus-global duplicate text) by scoping the
    * recurrence count to the source — a navigation footer shared by one
    * site's pages is boilerplate even if no other site has it.
    *
    * The synthetic corpus has almost no within-source recurrence
    * (2/500 docs at sf0.01), so the gate PLANTS the [[Footer]]
    * deterministically in both engines (the pii/phash pattern): planted
    * docs must show ≥ 8 boilerplate spans in every source, clean docs
    * ~0 — fire AND not-fire both proven at every SF.
    *
    * Scale shape: identical to [[spanCoverage]] with `source` riding the
    * span key — one corpus scan, lineage-cut, one map-side-combinable
    * (source,h) groupBy, one keyed join back. At 100 TB the (source,h)
    * key is FINER than (h), so this shuffles no more than the global
    * variant and skews less (a mega-site's spans split across its hash
    * range, not one reducer). */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateOf(withFooter(Tables.documents(spark, sfDir)))

  /** [[boilerplate]] over an explicit (doc_id, source, aug) frame —
    * SubstringSpec's seam for per-source scoping cases. */
  private[graft] def boilerplateOf(docs: DataFrame): DataFrame = {
    // NO lineage cut here (round 16): the exploded span frame is
    // corpus × spans/doc rows (~450M at sf30) — a MEMORY_AND_DISK
    // checkpoint of it outgrows the storage pool past ~sf10 and the
    // eviction churn read 46× per 3× in the sf30 session (178 s vs a
    // 3.9 s sf10 spot). Recomputing the codegen'd span kernel for the
    // two consumers is a cheap second scan at ANY scale; nothing
    // corpus×fan-out-sized is ever materialized.
    val sp = docs.select(col("doc_id"), col("source"),
      explode(spanHashes64(wordHashes(col("aug")),
        wordHashes37(col("aug")), SpanK)).as("h"))
    val bp = sp.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("source"), col("h"), lit(1L).as("is_bp"))
    sp.join(bp, Seq("source", "h"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_bp"), lit(0L))).as("n_bp_spans"))
      .select(col("doc_id"), col("source"), col("n_spans"),
        col("n_bp_spans"),
        (col("n_bp_spans").cast("double") / col("n_spans").cast("double"))
          .as("bp_frac"))
  }

  /** Planted-footer span CTEs (shared with [[Curation]]'s source report
    * so oracle and engine share the stage definition). */
  private[graft] val bpSqlCtes: String =
    s"""bf AS (SELECT doc_id, source,
       |  CASE WHEN doc_id % 7 = 3 THEN text || '$Footer' ELSE text END AS aug
       |  FROM documents),
       |bw AS (SELECT doc_id, source, ${wordHashesSql("aug")} AS w1,
       |  ${wordHashes37Sql("aug")} AS w2 FROM bf),
       |bsp AS (SELECT doc_id, source,
       |  unnest(${spanHashes64Sql("w1", "w2", SpanK)}) AS h FROM bw),
       |bpd AS (SELECT source, h FROM bsp GROUP BY source, h
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |bcov AS (SELECT bsp.doc_id, bsp.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN bpd.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bp_spans
       |  FROM bsp LEFT JOIN bpd
       |    ON bsp.source = bpd.source AND bsp.h = bpd.h
       |  GROUP BY bsp.doc_id, bsp.source)""".stripMargin

  val boilerplateSql: String =
    s"""WITH $bpSqlCtes
       |SELECT doc_id, source, n_spans, n_bp_spans,
       |  CAST(n_bp_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS bp_frac
       |FROM bcov""".stripMargin

  // ------------------------------------------------ exact longest duplicate

  /** Anchor granularity for the longest-duplicate pass: any duplicated
    * run of ≥ [[AnchorK]] words starts at a position whose AnchorK-span
    * is itself duplicated, so the anchor set (one LINEAR widened-hash
    * pass, the [[spanCoverage]] shape) contains every candidate start —
    * completeness is structural, not sampled. */
  private[graft] val AnchorK = 8

  /** Reporting cap in words = 2·256 − 1 (the largest length the
    * [[Levels]] pair-probe can express). A maximal duplicated run longer
    * than this reports as CapM (none exists in the gate corpora; a
    * production corpus with >500-word verbatim blocks excises at the 64
    * tier first — [[exciseReport]]). Bounds per-anchor probe fan-out. */
  private[graft] val CapM = 511

  /** Power-of-two span-hash tiers for the pair probe: a span of length
    * m is identified by (m, H(j)(p), H(j)(p+m−2^j)) with 2^j = msb(m) —
    * the two overlapping power-of-two sub-spans COVER the span, so two
    * positions agree on the key iff their m-spans are equal (same
    * widened-hash confidence as every span gate). O(1) per probed
    * length from 6 per-doc arrays, instead of O(m) string slicing. */
  private[graft] val Levels = Seq(8, 16, 32, 64, 128, 256)

  /** Variable-length planted templates: 13 length classes, class c =
    * the first 9 + 7·c words of one shared word list (so shorter
    * templates are PREFIXES of longer ones — a lone doc in a sparse
    * class still matches every longer-class doc at its own length,
    * which keeps the gate non-vacuous at sf0.001's ~4 planted docs).
    * Letter-only words: the word kernels tokenize `[a-z]+`, so a
    * digit-suffixed scheme would collapse every template word to one
    * token. */
  private[graft] val TmplClasses = 13
  private[graft] def tmplLen(c: Int): Int = 9 + 7 * c
  private[graft] def template(c: Int): String =
    (0 until tmplLen(c)).map(i =>
      s"ldw${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")

  /** Docs with doc_id ≡ 5 (mod 11) carry template class (doc_id/11) mod
    * 13 — 11 coprime to the 20-source cycle, classes striped across the
    * corpus. */
  private[graft] def withVarTemplates(docs: DataFrame): DataFrame = {
    val tmpls = array((0 until TmplClasses).map(c => lit(template(c))): _*)
    docs.withColumn("aug",
      when(col("doc_id") % 11 === 5,
        concat(col("text"), lit(" "),
          element_at(tmpls, (expr("doc_id div 11") % TmplClasses + 1).cast("int"))))
        .otherwise(col("text")))
  }

  /** EXACT longest cross-document duplicated word run per document —
    * the true maximal-span reporting of Lee et al. 2022's suffix-array
    * pass, replacing the fixed 5/16/64 grid's length quantization
    * (round-15 verdict #2). Two stages:
    *
    *  1. ANCHOR (linear): one corpus scan → widened [[AnchorK]]-span
    *     hashes → the cross-doc duplicated positions. Every duplicated
    *     run of length ≥ AnchorK starts at an anchor (its leading
    *     AnchorK words are duplicated wherever the run is), so no
    *     maximal run is missed.
    *  2. PROBE (sparse, exact): each anchor emits every length
    *     m ∈ [AnchorK, min(CapM, words remaining)], keyed by the
    *     [[Levels]] pair hash — (m, prefix 2^j-span hash, suffix
    *     2^j-span hash), 2^j = msb(m), the binary-lifting overlap
    *     identity — so each probed length costs O(1) array lookups from
    *     6 per-anchor-doc span-hash arrays (a first cut sliced the
    *     actual word strings per m: O(m) build + ~300 B/row shuffle;
    *     the pair key is 3 longs and took the sf0.1 key from 5.7 s to
    *     the sibling band). A (m, pair) groupBy keeps the cross-doc
    *     duplicated lengths; per doc the max fired m is the exact
    *     longest.
    *
    * Scale shape: stage 1 is the proven [[spanCoverage]] shape. Stage 2
    * costs Σ per-anchor run lengths rows (quadratic only in individual
    * duplicated-RUN length, never in corpus size) — the anchor set is
    * the corpus's cross-doc duplicate positions (organically sparse;
    * the fixtures' word-salted replicas keep it so at every SF), and a
    * crawl-scale corpus with DENSE duplication would insert the 64-tier
    * excision ([[exciseReport]]) before this pass, exactly as Lee et
    * al. dedup before analysis. Probe keys shuffle once.
    *
    * The synthetic corpus has no organic ≥ AnchorK repeats, so the gate
    * plants VARIABLE-length templates ([[withVarTemplates]]) — 13
    * distinct maximal lengths the report must land exactly, in both
    * engines. */
  def longestDupReport(spark: SparkSession, sfDir: String): DataFrame =
    longestDupOf(withVarTemplates(Tables.documents(spark, sfDir)))

  /** [[longestDupReport]] over an explicit (doc_id, aug) frame — the
    * spec's seam for constructed variable-length cases. */
  private[graft] def longestDupOf(docs: DataFrame): DataFrame = {
    // "≥ 2 distinct docs share h" ⟺ min(doc) ≠ max(doc) over the h
    // partition: ONE exchange of the span frame (window) instead of the
    // groupBy(h) + join-back shape, whose second leg re-shuffles the
    // whole span frame — and with a single consumer the span frame
    // needs no lineage cut.
    val wh = Window.partitionBy(col("h"))
    val anchors = docs.select(col("doc_id"),
      posexplode(spanHashes64(wordHashes(col("aug")),
        wordHashes37(col("aug")), AnchorK)).as(Seq("pos", "h")))
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("pos")).localCheckpoint()
    // Level span-hash arrays only for anchor docs (the probe side
    // re-scans the pruned corpus rather than checkpointing fat arrays
    // through stage 1).
    val lv = docs
      .join(anchors.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), wordHashes(col("aug")).as("w1"),
        wordHashes37(col("aug")).as("w2"))
      .select(Seq(col("doc_id"), size(col("w1")).cast("long").as("nw")) ++
        Levels.map(k => spanHashes64(col("w1"), col("w2"), k).as(s"a$k")): _*)
    // msb(m) tier selection as a when-chain (codegen'd); idx is 1-based.
    def tierAt(m: Column, idx: Column): Column =
      Levels.init.zip(Levels.tail).foldRight(
        element_at(col(s"a${Levels.last}"), idx.cast("int"))) {
        case ((k, nxt), rest) =>
          when(m < nxt, element_at(col(s"a$k"), idx.cast("int"))).otherwise(rest)
      }
    def tierOf(m: Column): Column =
      Levels.init.zip(Levels.tail).foldRight(lit(Levels.last.toLong)) {
        case ((k, nxt), rest) => when(m < nxt, lit(k.toLong)).otherwise(rest)
      }
    // Generate + project stay in ONE WholeStageCodegen stage: the level
    // arrays are row references, not per-probe copies, and the
    // when-chains are codegen'd (a transform(...) lambda here ran
    // interpreted per probe row).
    val wp = Window.partitionBy(col("m"), col("ha"), col("hb"))
    val fired = anchors.join(lv, Seq("doc_id"))
      .select(Seq(col("doc_id"), col("pos"),
        explode(sequence(lit(AnchorK.toLong),
          least(lit(CapM.toLong), col("nw") - col("pos")))).as("m")) ++
        Levels.map(k => col(s"a$k")): _*)
      .select(col("doc_id"), col("m"),
        tierAt(col("m"), col("pos") + 1).as("ha"),
        tierAt(col("m"), col("pos") + col("m") - tierOf(col("m")) + 1).as("hb"))
      .withColumn("mn", min(col("doc_id")).over(wp))
      .withColumn("mx", max(col("doc_id")).over(wp))
      .filter(col("mn") =!= col("mx"))
      .groupBy(col("doc_id")).agg(max(col("m")).as("longest"))
    anchors.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_anchor_pos"))
      .join(fired, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_anchor_pos"),
        coalesce(col("longest"), lit(0L)).as("longest_dup_words"))
  }

  /** msb-tier CASE over the per-level arrays: `idx(k)` is the 1-based
    * element index for tier k (prefix sub-span: `pos`; suffix:
    * `pos + m - k`). */
  private def tierCaseSql(idx: Int => String): String =
    Levels.init.zip(Levels.tail).map { case (k, nxt) =>
      s"WHEN m < $nxt THEN a$k[${idx(k)}]"
    }.mkString("CASE ", " ", s" ELSE a${Levels.last}[${idx(Levels.last)}] END")

  val longestDupSql: String = {
    val tmplVals = (0 until TmplClasses)
      .map(c => s"($c, '${template(c)}')").mkString(", ")
    s"""WITH tm(cls, tp) AS (VALUES $tmplVals),
       |lt AS (SELECT d.doc_id,
       |  CASE WHEN d.doc_id % 11 = 5 THEN d.text || ' ' || tm.tp
       |       ELSE d.text END AS aug
       |  FROM documents d LEFT JOIN tm ON tm.cls = (d.doc_id // 11) % $TmplClasses),
       |lw AS (SELECT doc_id, ${wordHashesSql("aug")} AS w1,
       |  ${wordHashes37Sql("aug")} AS w2 FROM lt),
       |lsp AS (SELECT doc_id,
       |  unnest(${spanHashes64Sql("w1", "w2", AnchorK)}) AS h,
       |  generate_subscripts(${spanHashes64Sql("w1", "w2", AnchorK)}, 1) AS pos
       |  FROM lw),
       |ldup AS (SELECT h FROM lsp GROUP BY h
       |  HAVING MIN(doc_id) <> MAX(doc_id)),
       |lanc AS (SELECT lsp.doc_id, lsp.pos FROM lsp JOIN ldup USING (h)),
       |llv AS (SELECT lw.doc_id, len(w1) AS nw,
       |  ${Levels.map(k => s"${spanHashes64Sql("w1", "w2", k)} AS a$k").mkString(",\n       |  ")}
       |  FROM lw JOIN (SELECT DISTINCT doc_id FROM lanc) ad USING (doc_id)),
       |lprobe AS (SELECT doc_id, pos, nw, ${Levels.map(k => s"a$k").mkString(", ")},
       |  unnest(range($AnchorK, least($CapM, nw - pos + 1) + 1)) AS m
       |  FROM lanc JOIN llv USING (doc_id)),
       |lps AS (SELECT doc_id, m,
       |  ${tierCaseSql(_ => "pos")} AS ha,
       |  ${tierCaseSql(k => s"pos + m - $k")} AS hb
       |  FROM lprobe),
       |ldups AS (SELECT m, ha, hb FROM lps GROUP BY m, ha, hb
       |  HAVING MIN(doc_id) <> MAX(doc_id)),
       |lfired AS (SELECT doc_id, CAST(MAX(m) AS BIGINT) AS longest
       |  FROM lps JOIN ldups USING (m, ha, hb) GROUP BY doc_id),
       |lna AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_anchor_pos
       |  FROM lanc GROUP BY doc_id)
       |SELECT lna.doc_id, n_anchor_pos,
       |  COALESCE(lfired.longest, 0) AS longest_dup_words
       |FROM lna LEFT JOIN lfired USING (doc_id)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_spans" -> (duplicatedSpans _),
    "dedup_substring_coverage" -> (spanCoverage _),
    "dedup_substring_multiscale" -> (multiscaleCoverage _),
    "dedup_substring_excise" -> (exciseReport _),
    "dedup_substring_longest" -> (longestDupReport _),
    "quality_boilerplate" -> (boilerplate _))

  val oracles: Map[String, String] = Map(
    "dedup_substring_spans" -> duplicatedSpansSql,
    "dedup_substring_coverage" -> spanCoverageSql,
    "dedup_substring_multiscale" -> multiscaleCoverageSql,
    "dedup_substring_excise" -> exciseReportSql,
    "dedup_substring_longest" -> Hashing.materializeCtes(longestDupSql),
    "quality_boilerplate" -> boilerplateSql)
}
