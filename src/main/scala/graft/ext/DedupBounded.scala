package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.topKSmallest

/** Output-bounded reporting tiers for the pair-reporting dedup gates
  * (round-15 verdict item 1).
  *
  * The full-pair forms ([[Dedup.containmentJoin]],
  * [[Dedup.simhashHamming]], [[Dedup.methodAgreement]]) are COMPLIANCE
  * tiers: their answer is every qualifying pair, and at saturated
  * duplicate density that answer itself is quadratic — the round-15
  * sf30-heaps audit measured exactly that (containment/agreement died
  * on shuffle-spill disk, hamming read 24× per 3×) while every
  * per-doc-bounded key stayed linear. A 100 TB pipeline never ships the
  * all-pairs report; it ships per-doc decisions with bounded
  * intermediates. These tiers apply the [[Dedup.cappedBuckets]] /
  * posting-cap discipline end to end:
  *
  *  - candidate generation is CAPPED per key (band bucket / posting
  *    list) at [[Dedup.BucketCap]] members in the deterministic
  *    (idHash, doc_id) order — any one bucket contributes O(K²) pairs,
  *    so total intermediates are corpus-LINEAR at any duplicate
  *    density;
  *  - the report is per-doc bounded: top-[[ReportTopK]] strongest
  *    containers per contained doc (a bounded heap aggregate, k rows
  *    per key exchanged), a neighbor-degree histogram (per-doc counts
  *    collapse map-side), or per-doc method flags.
  *
  * Every cap is replicated VERBATIM in the DuckDB oracle (same window,
  * same order, same K), so the gates stay hash-exact at every SF; the
  * recall trade vs the compliance tiers is measured by
  * DedupBoundedSpec on planted mega-clusters, not hand-waved.
  */
object DedupBounded {

  /** Strongest-pairs report width (per contained doc). */
  val ReportTopK = 3

  /** Per-doc shortlist width for the exact-verify stage of the
    * containment tier (stage 2 of the two-stage retrieval below):
    * candidates are RANKED by the fixed-width signature estimate and
    * only the best [[ShortlistC]] per contained doc reach the array
    * intersect. > [[ReportTopK]] headroom absorbs estimator error;
    * the recall trade vs exact ranking is measured in
    * DedupBoundedSpec, not assumed. */
  val ShortlistC = 8

  /** Per-posting / per-bucket membership cap — shared with the LSH
    * candidate cap so "bounded tier" means ONE discipline everywhere. */
  private val Cap = Dedup.BucketCap

  // ------------------------------------------------- containment top-k

  /** Verified ≥0.9 containment pairs with BOUNDED intermediates at
    * every stage — a two-stage retrieval:
    *
    *  1. Candidates: prefix tokens ⨝ a posting-CAPPED inverted index
    *     (first [[Cap]] docs per token in (idHash, doc_id) order,
    *     computed as a bounded top-k heap aggregate — k rows per token
    *     exchanged map-side, never the full posting). Candidate volume
    *     ≤ |prefix tokens| · Cap — corpus-linear at ANY duplicate
    *     density, where the compliance tier's Σ_h pf(h)·df(h) fan-out
    *     detonates at saturation.
    *  2. Rank-then-verify: candidate pairs are scored by the
    *     fixed-width MinHash signature estimate (16 longs per side —
    *     the pair shuffle carries ~150 bytes/row, NEVER the shingle
    *     arrays; measured at sf30h the array-carrying verify join
    *     moved ~100 GB and died on spill disk, the round-15 failure
    *     shape reappearing one stage later), each doc keeps its best
    *     [[ShortlistC]] by estimate (bounded heap), and only that
    *     shortlist reaches the exact two-pointer intersect — ≤ C·n
    *     array-carrying rows by construction.
    *
    * Estimate: m = slot matches of the 16-perm sigs, Ĵ = m/16, and
    * inter = J·(n_a+n_b)/(1+J) gives the integer rank key
    * m·(n_a+n_b)·1000 div ((16+m)·n_a) — exact integer arithmetic,
    * replicated verbatim in the oracle, ties broken by doc_b. */
  private[ext] def containmentCappedPairs(spark: SparkSession,
      sfDir: String): DataFrame =
    containmentCappedPairsOf(Dedup.shingled(spark, sfDir))

  /** The capped pipeline over an arbitrary `(doc_id, sh)` frame — the
    * seam DedupBoundedSpec drives with planted mega-posting families. */
  private[graft] def containmentCappedPairsOf(shIn: DataFrame): DataFrame = {
    val sh = shIn.filter(size(col("sh")) > 0).localCheckpoint()
    containmentCappedPairsSides(sh, sh, sh)
  }

  /** The same two-stage capped retrieval with the CONTAINED (prefix)
    * and CONTAINER (inverted-index) sides drawn from different frames —
    * the incremental twin's seam. `shNew`/`shOld` must be size-filtered
    * subsets of `shAll` with disjoint doc_ids (or all three the same
    * frame for the self-join case); the df order driving the prefix is
    * computed on `shNew` ALONE (the prefix principle holds under any
    * fixed token order, so batch-local df loses pruning power, never
    * recall — [[Incremental.incrementalContainment]]'s argument). */
  private[graft] def containmentCappedPairsSides(shNew: DataFrame,
      shOld: DataFrame, shAll: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{minhashSig, sigMatchCount}
    val sh = shAll
    val prefix = Dedup.prefixTokensOf(shNew, Dedup.ContainTauPermille)
    val tok = shOld.select(col("doc_id"), explode(col("sh")).as("h"))
    val inv = tok.groupBy(col("h"))
      .agg(topKSmallest(struct(
        Hashing.idHash(col("doc_id")).as("ih"), col("doc_id")), Cap).as("ds"))
      .select(col("h"), explode(col("ds")).as("d"))
      .select(col("h"), col("d.doc_id").as("doc_b"))
    val cands = prefix.select(col("doc_id").as("doc_a"), col("h"))
      .join(inv, Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val meta = sh.select(col("doc_id"),
      size(col("sh")).cast("long").as("n"), minhashSig(col("sh")).as("sig"))
    val shortlist = cands
      .join(meta.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("sig").as("sigb")), "doc_b")
      .join(meta.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("sig").as("siga")), "doc_a")
      .withColumn("m", sigMatchCount(col("siga"), col("sigb")))
      .withColumn("est", expr(
        s"(m * (n_a + n_b) * 1000) div ((${Hashing.NumPerms} + m) * n_a)"))
      .groupBy(col("doc_a"))
      .agg(topKSmallest(struct((-col("est")).as("ne"), col("doc_b")),
        ShortlistC).as("cs"))
      .select(col("doc_a"), explode(col("cs")).as("c"))
      .select(col("doc_a"), col("c.doc_b").as("doc_b"))
    Dedup.containmentVerify(sh, shortlist, Dedup.ContainTauPermille)
  }

  /** Gated: per contained doc, its [[ReportTopK]] STRONGEST containers
    * (cont_permille desc, doc_b asc) from the capped candidate set —
    * the bounded twin of [[Dedup.containmentJoin]]. The final report is
    * a k-bounded heap per doc_a: the exchange after the verify carries
    * ≤ k rows per contained doc no matter how many containers qualify. */
  def containmentTopK(spark: SparkSession, sfDir: String): DataFrame =
    containmentTopKOf(containmentCappedPairs(spark, sfDir))

  /** The bounded report over any verified-pairs frame (spec seam). */
  private[graft] def containmentTopKOf(pairs: DataFrame): DataFrame = {
    pairs
      .groupBy(col("doc_a"))
      .agg(topKSmallest(struct((-col("cont_permille")).as("nc"),
        col("doc_b"), col("inter"), col("n_a"), col("n_b")),
        ReportTopK).as("top"))
      .select(col("doc_a"), explode(col("top")).as("t"))
      .select(col("doc_a"), col("t.doc_b").as("doc_b"),
        col("t.inter").as("inter"), col("t.n_a").as("n_a"),
        col("t.n_b").as("n_b"), (-col("t.nc")).as("cont_permille"))
  }

  /** The capped verified pairs, as SQL (shared by the oracles below).
    * Mirrors the Spark plan decision-for-decision: same df-asc prefix
    * window, same (idHash, doc_id) posting cap, same 16-perm signature
    * estimate and shortlist window, same exact intersect.
    * `prefFilter`/`idxFilter` carve the contained (prefix) and
    * container (inverted-index) sides out of the token frame — TRUE /
    * TRUE is the self-join tier, the isNew split is the incremental
    * tier (df for the prefix window computed on the prefix side ALONE,
    * mirroring [[containmentCappedPairsSides]]). */
  private def cappedPairsSqlSides(prefFilter: String,
      idxFilter: String): String = {
    val minCols = (0 until Hashing.NumPerms)
      .map(i => s"MIN((${Hashing.permA(i)}*h + ${Hashing.permB(i)}) " +
        s"% ${Hashing.P}) AS s$i").mkString(",\n    ")
    val m = (0 until Hashing.NumPerms)
      .map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${Dedup.shingledSqlCte},
       |shnz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
       |u AS (SELECT doc_id, unnest(sh) AS h FROM shnz),
       |un AS (SELECT doc_id, h FROM u WHERE $prefFilter),
       |dft AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM un GROUP BY h),
       |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM shnz),
       |pre AS (SELECT doc_id, h FROM (
       |    SELECT un.doc_id, un.h, sz.n,
       |      row_number() OVER (PARTITION BY un.doc_id ORDER BY dft.df, un.h)
       |        AS rn
       |    FROM un JOIN dft ON un.h = dft.h JOIN sz ON un.doc_id = sz.doc_id)
       |  WHERE rn <= n - (${Dedup.ContainTauPermille} * n + 999) // 1000 + 1),
       |iv AS (SELECT doc_id, h FROM u WHERE $idxFilter),
       |inv AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY h
       |      ORDER BY ${Hashing.idHashSql("doc_id")}, doc_id) AS rn FROM iv)
       |  WHERE rn <= ${Dedup.BucketCap}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pre a JOIN inv b ON a.h = b.h WHERE a.doc_id <> b.doc_id),
       |sg AS (SELECT doc_id, $minCols
       |  FROM u GROUP BY doc_id),
       |scored AS (SELECT c.doc_a, c.doc_b, $m AS m,
       |    sa.n AS n_a, sb.n AS n_b
       |  FROM cand c JOIN sg a ON c.doc_a = a.doc_id
       |  JOIN sg b ON c.doc_b = b.doc_id
       |  JOIN sz sa ON c.doc_a = sa.doc_id
       |  JOIN sz sb ON c.doc_b = sb.doc_id),
       |short AS (SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, row_number() OVER (PARTITION BY doc_a
       |      ORDER BY (m * (n_a + n_b) * 1000)
       |          // ((${Hashing.NumPerms} + m) * n_a) DESC,
       |        doc_b) AS rs
       |    FROM scored) WHERE rs <= $ShortlistC)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |  CAST(len(sa.sh) AS BIGINT) AS n_a, CAST(len(sb.sh) AS BIGINT) AS n_b,
       |  (CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000)
       |    // CAST(len(sa.sh) AS BIGINT) AS cont_permille
       |FROM short JOIN shnz sa ON doc_a = sa.doc_id
       |JOIN shnz sb ON doc_b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000
       |  >= ${Dedup.ContainTauPermille} * CAST(len(sa.sh) AS BIGINT)"""
      .stripMargin
  }

  private lazy val containmentCappedPairsSql: String =
    cappedPairsSqlSides("TRUE", "TRUE")

  val containmentTopKSql: String =
    s"""SELECT doc_a, doc_b, inter, n_a, n_b, cont_permille FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_a
       |      ORDER BY cont_permille DESC, doc_b) AS rk
       |  FROM ($containmentCappedPairsSql))
       |WHERE rk <= $ReportTopK""".stripMargin

  // -------------------------------------------- hamming degree histogram

  /** Gated: neighbor-degree histogram of the [[Dedup.simhashHamming]]
    * radius-3 graph over CAPPED band buckets — the bounded twin of the
    * all-pairs hamming report. Each (band, key) bucket keeps its first
    * [[Cap]] members (bounded heap, map-side), so a saturated corpus
    * where most docs share one signature contributes O(buckets · Cap²)
    * pairs instead of O(n²); the per-doc neighbor counts then collapse
    * into a histogram whose size is bounded by the max degree
    * (≤ 4·Cap), not the corpus. Degree-0 docs don't appear (they have
    * no pairs) — the histogram reads "of docs with ≥1 capped-graph
    * neighbor, how many have k". */
  def hammingDegreeHist(spark: SparkSession, sfDir: String): DataFrame =
    hammingDegreeHistOf(Dedup.simhash62(spark, sfDir))

  /** The capped pipeline over an arbitrary `(doc_id, simhash)` frame —
    * the seam DedupBoundedSpec drives with planted mega-buckets. */
  private[graft] def hammingDegreeHistOf(sig: DataFrame): DataFrame = {
    val banded = sig
      .select(col("doc_id"), col("simhash"),
        posexplode(Dedup.simhashBandKeys(col("simhash"))))
      .toDF("doc_id", "simhash", "band", "bv")
    val capped = banded.groupBy(col("band"), col("bv"))
      .agg(topKSmallest(struct(Hashing.idHash(col("doc_id")).as("ih"),
        col("doc_id"), col("simhash")), Cap).as("ms"))
      .select(col("band"), col("bv"), explode(col("ms")).as("m"))
      .select(col("band"), col("bv"), col("m.doc_id").as("doc_id"),
        col("m.simhash").as("simhash"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(expr("bit_count(x.simhash ^ y.simhash)") <= Dedup.HammingRadius)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_docs"))
  }

  /** Verbatim banding + cap + degree count in DuckDB. The four band
    * keys mirror [[Dedup.simhashBandKeys]] bit for bit (the signature
    * is 62 bits, top bits zero, so BIGINT shifts never see a sign). */
  val hammingDegreeHistSql: String = {
    val bandRows = Seq(
      "( (simhash & 255) + ((simhash >> 55) & 127) * 256 )",
      "( ((simhash >> 8) & 255) + ((simhash >> 47) & 255) * 256 )",
      "( ((simhash >> 31) & 255) + ((simhash >> 24) & 127) * 256 )",
      "( ((simhash >> 39) & 255) + ((simhash >> 16) & 255) * 256 )")
      .zipWithIndex.map { case (e, b) =>
        s"SELECT doc_id, simhash, $b AS band, $e AS bv FROM sig"
      }.mkString("\n  UNION ALL ")
    s"""WITH sig AS (${Dedup.simhash62Sql}),
       |b AS (
       |  $bandRows),
       |capped AS (SELECT doc_id, simhash, band, bv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY band, bv
       |      ORDER BY ${Hashing.idHashSql("doc_id")}, doc_id) AS rn FROM b)
       |  WHERE rn <= ${Dedup.BucketCap}),
       |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= ${Dedup.HammingRadius}),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT doc_a AS doc_id FROM p
       |    UNION ALL SELECT doc_b AS doc_id FROM p) GROUP BY doc_id)
       |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY deg"""
      .stripMargin
  }

  // ------------------------------------------- method agreement, capped

  /** Gated: the [[Dedup.methodAgreement]] per-doc decision table with
    * both PAIR-fed signals drawn from capped candidate stages — minhash
    * flags from the [[Dedup.BucketCap]]-capped LSH join, contained
    * flags from the posting-capped containment. The report was always
    * per-doc (linear); what the cap bounds is the pair INTERMEDIATES
    * feeding it, which is where the compliance tier died at saturated
    * density. Exact/fingerprint legs are hash groupBys — already
    * linear, shared verbatim. */
  def methodAgreementCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    def groupDocs(key: org.apache.spark.sql.Column, m: String) = {
      val g = docs.groupBy(key.as("h")).agg(count(lit(1)).as("c"))
      docs.select(col("doc_id"), key.as("h"))
        .join(g, "h").filter(col("c") >= 2)
        .select(col("doc_id"), lit(m).as("m"))
    }
    val mh = Dedup.minhashLshCapped(spark, sfDir)
    val flags = groupDocs(md5(col("text")), "exact")
      .unionAll(groupDocs(
        md5(graft.functions.GraftFunctions.normalizeWs(col("text"))), "fp"))
      .unionAll(mh.select(col("doc_a").as("doc_id"))
        .unionAll(mh.select(col("doc_b").as("doc_id")))
        .select(col("doc_id"), lit("minhash").as("m")))
      .unionAll(containmentCappedPairs(spark, sfDir)
        .select(col("doc_a").as("doc_id"), lit("contained").as("m")))
      .distinct()
    def flag(m: String) = max(when(col("m") === m, 1L).otherwise(0L))
    flags.groupBy(col("doc_id"))
      .agg(flag("exact").as("is_exact"), flag("fp").as("is_fingerprint"),
        flag("minhash").as("is_minhash"), flag("contained").as("is_contained"))
      .withColumn("n_methods",
        col("is_exact") + col("is_fingerprint") + col("is_minhash") +
          col("is_contained"))
  }

  /** [[Dedup.minhashLshSql]] over the capped candidate CTEs. */
  private lazy val minhashLshCappedSql: String =
    s"""WITH ${Dedup.cappedCandsSqlCtes}
       |SELECT doc_a, doc_b
       |FROM cands JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
       |      AS DOUBLE) >= 0.8""".stripMargin

  lazy val methodAgreementCappedSql: String =
    s"""WITH mh AS (SELECT doc_a, doc_b FROM ($minhashLshCappedSql)),
       |ct AS (SELECT doc_a FROM ($containmentCappedPairsSql)),
       |exg AS (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1),
       |fpg AS (SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS h,
       |  COUNT(*) AS c FROM documents GROUP BY 1),
       |flags AS (
       |  SELECT d.doc_id, 'exact' AS m FROM documents d
       |    JOIN exg ON md5(d.text) = exg.h WHERE exg.c >= 2
       |  UNION
       |  SELECT d.doc_id, 'fp' FROM documents d
       |    JOIN fpg ON md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) = fpg.h
       |    WHERE fpg.c >= 2
       |  UNION
       |  SELECT doc_a, 'minhash' FROM mh
       |  UNION
       |  SELECT doc_b, 'minhash' FROM mh
       |  UNION
       |  SELECT doc_a, 'contained' FROM ct)
       |SELECT doc_id,
       |  CAST(MAX(CASE WHEN m = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS is_exact,
       |  CAST(MAX(CASE WHEN m = 'fp' THEN 1 ELSE 0 END) AS BIGINT) AS is_fingerprint,
       |  CAST(MAX(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END) AS BIGINT) AS is_minhash,
       |  CAST(MAX(CASE WHEN m = 'contained' THEN 1 ELSE 0 END) AS BIGINT) AS is_contained,
       |  CAST(MAX(CASE WHEN m = 'exact' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN m = 'fp' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN m = 'minhash' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN m = 'contained' THEN 1 ELSE 0 END) AS BIGINT) AS n_methods
       |FROM flags GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- jaccard top-k

  /** Gated: per doc, its [[ReportTopK]] STRONGEST near-duplicate
    * partners at Jaccard ≥ 0.8 — the bounded twin of
    * [[Dedup.jaccardPrefixJoin]] (whose answer is every qualifying
    * pair, 5.5× per 3× data at sf30-uniform because verified-pair
    * volume outgrows the corpus). Same two-stage retrieval as the
    * containment tier, symmetric:
    *
    *  1. Candidates: the df-asc prefix tokens with each token's prefix
    *     POSTING capped at [[Dedup.BucketCap]] docs in (idHash,
    *     doc_id) order — a token contributes ≤ C(Cap, 2) pairs, so
    *     intermediates are corpus-linear at any duplicate density;
    *     pairs are mirrored so the report covers both directions.
    *  2. Rank-then-verify: candidates ranked per doc by the
    *     fixed-width signature match count m (for symmetric Jaccard,
    *     Ĵ = m/[[Hashing.NumPerms]] is monotone in m, so m itself is
    *     the rank key — no arithmetic, ties by doc_b); best
    *     [[ShortlistC]] per doc reach the exact intersect; the final
    *     report keeps each doc's [[ReportTopK]] by exact jac_permille.
    *
    * The shuffles after candidate generation carry fixed-width
    * signatures (~150 B/row), never shingle arrays; array-carrying
    * rows are ≤ ShortlistC·n by construction. */
  def jaccardTopK(spark: SparkSession, sfDir: String): DataFrame =
    jaccardTopKOf(Dedup.shingled(spark, sfDir))

  /** The capped pipeline over an arbitrary `(doc_id, sh)` frame — the
    * seam DedupBoundedSpec drives with planted mega-cluster families. */
  private[graft] def jaccardTopKOf(shIn: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{minhashSig, sigMatchCount,
      sortedIntersectSize}
    val sh = shIn.filter(size(col("sh")) > 0).localCheckpoint()
    val prefix = Dedup.prefixTokensOf(sh, Dedup.PrefixTauPermille)
    val capped = prefix.groupBy(col("h"))
      .agg(topKSmallest(struct(
        Hashing.idHash(col("doc_id")).as("ih"), col("doc_id")), Cap).as("ds"))
      .select(col("h"), explode(col("ds")).as("d"))
      .select(col("h"), col("d.doc_id").as("doc_id"))
    val p0 = capped.as("x").join(capped.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val cands = p0.unionAll(
      p0.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val meta = sh.select(col("doc_id"),
      size(col("sh")).cast("long").as("n"), minhashSig(col("sh")).as("sig"))
    val shortlist = cands
      .join(meta.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
        "doc_b")
      .join(meta.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
        "doc_a")
      .withColumn("m", sigMatchCount(col("siga"), col("sigb")))
      .groupBy(col("doc_a"))
      .agg(topKSmallest(struct((-col("m")).as("nm"), col("doc_b")),
        ShortlistC).as("cs"))
      .select(col("doc_a"), explode(col("cs")).as("c"))
      .select(col("doc_a"), col("c.doc_b").as("doc_b"))
    val inter = sortedIntersectSize(col("sha"), col("shb"))
    val ver = shortlist
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), inter.as("inter"),
        (size(col("sha")).cast("long") + size(col("shb")).cast("long") - inter)
          .as("uni"))
      .filter(col("inter") * 1000L >= lit(Dedup.PrefixTauPermille) * col("uni"))
      .withColumn("jac_permille", expr("inter * 1000 div uni"))
    ver.groupBy(col("doc_a"))
      .agg(topKSmallest(struct((-col("jac_permille")).as("nj"), col("doc_b"),
        col("inter"), col("uni")), ReportTopK).as("top"))
      .select(col("doc_a"), explode(col("top")).as("t"))
      .select(col("doc_a"), col("t.doc_b").as("doc_b"),
        col("t.inter").as("inter"), col("t.uni").as("uni"),
        (-col("t.nj")).as("jac_permille"))
  }

  /** Verbatim cap + shortlist + exact verify in DuckDB. */
  val jaccardTopKSql: String = {
    val minCols = (0 until Hashing.NumPerms)
      .map(i => s"MIN((${Hashing.permA(i)}*h + ${Hashing.permB(i)}) " +
        s"% ${Hashing.P}) AS s$i").mkString(",\n    ")
    val m = (0 until Hashing.NumPerms)
      .map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${Dedup.shingledSqlCte},
       |shnz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
       |u AS (SELECT doc_id, unnest(sh) AS h FROM shnz),
       |dft AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM u GROUP BY h),
       |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM shnz),
       |pre AS (SELECT doc_id, h FROM (
       |    SELECT u.doc_id, u.h, sz.n,
       |      row_number() OVER (PARTITION BY u.doc_id ORDER BY dft.df, u.h)
       |        AS rn
       |    FROM u JOIN dft ON u.h = dft.h JOIN sz ON u.doc_id = sz.doc_id)
       |  WHERE rn <= n - (${Dedup.PrefixTauPermille} * n + 999) // 1000 + 1),
       |cpre AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY h
       |      ORDER BY ${Hashing.idHashSql("doc_id")}, doc_id) AS rn FROM pre)
       |  WHERE rn <= ${Dedup.BucketCap}),
       |p0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM cpre x JOIN cpre y ON x.h = y.h AND x.doc_id < y.doc_id),
       |cand AS (SELECT doc_a, doc_b FROM p0
       |  UNION ALL SELECT doc_b, doc_a FROM p0),
       |sg AS (SELECT doc_id, $minCols
       |  FROM u GROUP BY doc_id),
       |scored AS (SELECT c.doc_a, c.doc_b, $m AS m
       |  FROM cand c JOIN sg a ON c.doc_a = a.doc_id
       |  JOIN sg b ON c.doc_b = b.doc_id),
       |short AS (SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, row_number() OVER (PARTITION BY doc_a
       |      ORDER BY m DESC, doc_b) AS rs
       |    FROM scored) WHERE rs <= $ShortlistC),
       |ver AS (SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) AS BIGINT) + CAST(len(sb.sh) AS BIGINT)
       |      - CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS uni
       |  FROM short JOIN shnz sa ON doc_a = sa.doc_id
       |  JOIN shnz sb ON doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) * 1000
       |    >= ${Dedup.PrefixTauPermille} * (CAST(len(sa.sh) AS BIGINT)
       |      + CAST(len(sb.sh) AS BIGINT)
       |      - CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT)))
       |SELECT doc_a, doc_b, inter, uni, (inter * 1000) // uni AS jac_permille
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_a
       |    ORDER BY (inter * 1000) // uni DESC, doc_b) AS rk FROM ver)
       |WHERE rk <= $ReportTopK""".stripMargin
  }

  // --------------------------------------- incremental containment top-k

  /** Gated: the rolling-ingest quote detector with bounded
    * intermediates — per ARRIVING doc, its [[ReportTopK]] strongest
    * already-ingested containers; the bounded twin of
    * [[Incremental.incrementalContainment]] (3.7× per 3× data at
    * sf30-uniform — its candidate fan-out Σ_h pf(h)·df_old(h) tracks
    * duplicate density). Identical discipline to [[containmentTopK]]
    * with the sides split: batch prefixes (df computed on the batch
    * alone — O(batch) state, the incremental point) against the
    * snapshot's posting-CAPPED inverted index. */
  def incrementalContainmentTopK(spark: SparkSession,
      sfDir: String): DataFrame = {
    val sh = Dedup.shingled(spark, sfDir)
      .filter(size(col("sh")) > 0).localCheckpoint()
    val pairs = containmentCappedPairsSides(
      sh.filter(Incremental.isNew(col("doc_id"))),
      sh.filter(!Incremental.isNew(col("doc_id"))), sh)
    containmentTopKOf(pairs)
      .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"),
        col("inter"), col("n_a").as("n_new"), col("n_b").as("n_old"),
        col("cont_permille"))
  }

  val incrementalContainmentTopKSql: String =
    s"""SELECT doc_a AS doc_new, doc_b AS doc_old, inter,
       |  n_a AS n_new, n_b AS n_old, cont_permille FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_a
       |      ORDER BY cont_permille DESC, doc_b) AS rk
       |  FROM (${cappedPairsSqlSides(Incremental.isNewSql("doc_id"),
              "NOT " + Incremental.isNewSql("doc_id"))}))
       |WHERE rk <= $ReportTopK""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_containment_topk" -> (containmentTopK _),
    "dedup_hamming_degree_hist" -> (hammingDegreeHist _),
    "dedup_method_agreement_capped" -> (methodAgreementCapped _),
    "dedup_jaccard_topk" -> (jaccardTopK _),
    "dedup_incremental_containment_topk" -> (incrementalContainmentTopK _))

  val oracles: Map[String, String] = Map(
    "dedup_containment_topk" -> containmentTopKSql,
    "dedup_hamming_degree_hist" -> hammingDegreeHistSql,
    "dedup_method_agreement_capped" -> methodAgreementCappedSql,
    "dedup_jaccard_topk" -> jaccardTopKSql,
    "dedup_incremental_containment_topk" -> incrementalContainmentTopKSql)
}
