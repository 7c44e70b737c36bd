package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{GraftFunctions => GF}

/** Exact token-unit accounting — the stage that turns every char/word
  * proxy budget in the pipeline into REAL tokenizer tokens, the unit an
  * LLM training run actually buys. A fixed-vocabulary greedy
  * longest-match (wordpiece-style) subword tokenizer:
  *
  *  - vocab = the [[VocabK]] most frequent corpus words (count DESC,
  *    word ASC — an exact, reproducible tie-break; K is sized BELOW the
  *    corpus vocabulary so out-of-vocab words exist at every SF and the
  *    gate is non-vacuous);
  *  - within each word, greedy longest-match: consume the longest vocab
  *    piece at the cursor, else one char (byte fallback — coverage is
  *    total by construction, exactly the public WordPiece/BPE-inference
  *    behavior at word granularity);
  *  - token count per doc = Σ pieces over its words.
  *
  * The tokenizer is a PURE function of (word, vocab), so the corpus is
  * never tokenized row-by-row: distinct words are tokenized once
  * against the broadcast 1-row vocab frame ("tokenize the vocabulary,
  * not the corpus" — the trick every production tokenizer-counting job
  * uses) and joined back by word. Scale shape: one corpus scan +
  * word-keyed exchanges; the greedy kernel runs |distinct words| times,
  * not |corpus words| times; the vocab broadcast is K entries at any SF.
  *
  * The DuckDB oracle replays greedy matching EXACTLY with a recursive
  * CTE over the same distinct-word table (one step per consumed piece,
  * longest match via a correlated MAX over the vocab CTE), so both
  * engines must agree on every piece decision, not just on totals.
  *
  * [[corpusPackTokens]] then re-runs the doc-atomic next-fit packer
  * ([[Packing.packAtomicOf]]) with these exact token counts as the
  * budget unit — closing the VERDICT r7 gap: packing budgets were
  * char-level proxies, now they are tokens.
  */
object Tokenize {

  /** Vocab size. The synthetic corpus has a 31-word vocabulary at every
    * SF, so K=24 leaves ~7 word types out-of-vocab (gate non-vacuous:
    * fallback fires on ~20% of occurrences) and puts a frequency TIE at
    * the K boundary at sf0.01 ("group" vs "part", both 878 — the
    * deterministic tie-break is itself gated). Production would use
    * 32k–128k; K only scales the broadcast and the kernel's inner loop. */
  val VocabK = 24

  /** (doc_id, word) — one row per word occurrence. THE word-explode the
    * whole token-accounting family shares (batch, streaming, BPE, LM
    * surprisal): a single definition, so the gates and their shared
    * oracles cannot drift apart one copy at a time. Works on batch and
    * streaming frames alike (pure select). */
  private[graft] def wordsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.engine.Tokenizer.tokens(lower(col("text")),
        TextAnalysis.LowerWordPattern)).as("word"))

  /** (doc_id, word, tf) via the fused wordTfPairs kernel — one
    * codegen'd pass per document, zero shuffle (the explode + groupBy
    * shape this replaces exchanged one row per corpus token). */
  private def wtfOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), explode(GF.wordTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("p.word").as("word"), col("p.tf").as("tf"))
  }

  /** 1-row frame: the sorted top-K vocab as an array<string> column —
    * the constant-size broadcast every tokenization joins against.
    * Takes the kernel tf frame: corpus word counts are Σtf. */
  private[graft] def vocabRowOf(wtf: DataFrame, k: Int): DataFrame =
    wtf.groupBy(col("word")).agg(sum(col("tf")).as("c"))
      .orderBy(col("c").desc, col("word"))
      .limit(k)
      .agg(sort_array(collect_list(col("word"))).as("vocab"))

  /** (word, n_pieces, n_vocab_pieces) over the DISTINCT words of the
    * corpus — the tokenized vocabulary. */
  private def pieceTable(wtf: DataFrame, vocabRow: DataFrame): DataFrame =
    wtf.select(col("word")).distinct()
      .crossJoin(broadcast(vocabRow))
      .select(col("word"), GF.greedyPieces(col("word"), col("vocab")).as("pc"))
      .select(col("word"),
        element_at(col("pc"), 1).as("n_pieces"),
        element_at(col("pc"), 2).as("n_vocab_pieces"))

  /** The tokenized vocabulary (word, n_pieces, n_vocab_pieces) for a
    * corpus — the STATIC side the streaming twin joins against (the
    * frozen-tokenizer deployment shape: derive once, enrich forever). */
  private[graft] def pieceFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val wtf = wtfOf(Tables.documents(spark, sfDir))
    pieceTable(wtf, vocabRowOf(wtf, VocabK))
  }

  /** Per-doc exact token accounting over an explicit (doc_id, text)
    * frame with an explicit vocab row — TokenizeSpec's seam. Drives from
    * the documents frame with LEFT joins so 0-word docs surface with
    * zeroed counts (the Quality short-doc lesson, applied from day 1).
    *
    * Scale shape (r15): the kernel tf frame never shuffles; the piece
    * table (distinct words × greedy-piece counts, vocabulary-sized)
    * BROADCASTS back onto it, so the per-doc rollup's partial
    * aggregation runs where the doc's rows already live — the old shape
    * checkpointed one row per corpus token, sort-merge-joined 150M rows
    * by word, and re-grouped them by doc. */
  private[graft] def tokenStatsOf(docs: DataFrame,
      vocabRow: DataFrame): DataFrame = {
    val wtf = wtfOf(docs)
    val perDoc = wtf
      .join(broadcast(pieceTable(wtf, vocabRow)), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("n_pieces")).as("n_tokens"),
        sum(col("tf") * col("n_vocab_pieces")).as("n_vocab_tokens"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_vocab_tokens"), lit(0L)).as("n_vocab_tokens"))
  }

  /** Gated: per-doc exact token counts under the corpus-derived vocab. */
  def corpusTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // The vocab derivation re-tokenizes (its own kernel pass) — one
    // extra scan over the corpus, but the vocab row must be computable
    // WITHOUT the stats frame so callers can also supply a fixed
    // external vocab (the production deployment shape: vocab frozen
    // once, reused across ingests).
    tokenStatsOf(docs, vocabRowOf(wtfOf(docs), VocabK))
  }

  /** Shared oracle CTEs: words → counts → vocab → distinct words →
    * recursive greedy tokenization → per-word pieces → per-doc rollup.
    * Must be spliced into a `WITH RECURSIVE` clause. `extraCtes` lets a
    * caller interpose its own CTEs (e.g. a snapshot doc filter) and
    * `vocabBody` swaps the vocab derivation — the [[vocabDrift]] gate
    * trains the vocab on one cohort and applies it to the whole corpus.
    *
    * The greedy step reads its longest-match from `lmatch`, a PLAIN
    * (word, position) → max-piece-length table joined into the
    * recursion — never from a correlated subquery inside the recursive
    * term: the oracle engine mis-executes that shape intermittently at
    * sf3 (missed matches, varying across executions of the identical
    * statement — see Hashing.materializeCtes' scaladoc; de-materializing
    * the target was not sufficient). `lmatch` is |distinct words| ×
    * avg word length rows — vocabulary-sized, not corpus-sized. */
  private[graft] def tokCtesWith(extraCtes: String, vocabBody: String): String = {
    val words =
      "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), t -> t <> '')"
    s"""tw AS (SELECT doc_id, unnest($words) AS word FROM documents),
       |wcnt AS (SELECT word, COUNT(*) AS c FROM tw GROUP BY word),
       |${extraCtes}vocab AS ($vocabBody),
       |dw AS (SELECT DISTINCT word FROM tw),
       |wpos AS (SELECT word, unnest(range(1, length(word)+1)) AS p FROM dw),
       |lmatch AS (SELECT w.word, w.p,
       |    CAST(MAX(length(v.piece)) AS BIGINT) AS ml
       |  FROM wpos w JOIN vocab v
       |    ON v.piece = substr(w.word, CAST(w.p AS INTEGER), length(v.piece))
       |  GROUP BY w.word, w.p),
       |tok AS (
       |  SELECT word, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS n,
       |    CAST(0 AS BIGINT) AS nv
       |  FROM dw
       |  UNION ALL
       |  SELECT t.word,
       |    t.p + COALESCE(m.ml, 1),
       |    t.n + 1,
       |    t.nv + CASE WHEN m.ml IS NOT NULL THEN 1 ELSE 0 END
       |  FROM tok t LEFT JOIN lmatch m ON m.word = t.word AND m.p = t.p
       |  WHERE t.p <= length(t.word)),
       |pieces AS (SELECT word, MAX(n) AS n_pieces, MAX(nv) AS n_vocab_pieces
       |  FROM tok GROUP BY word),
       |perdoc AS (SELECT tw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(p2.n_pieces) AS BIGINT) AS n_tokens,
       |    CAST(SUM(p2.n_vocab_pieces) AS BIGINT) AS n_vocab_tokens
       |  FROM tw JOIN pieces p2 USING (word) GROUP BY tw.doc_id)""".stripMargin
  }

  private[graft] val tokCtes: String = tokCtesWith("",
    s"SELECT word AS piece FROM wcnt ORDER BY c DESC, word LIMIT $VocabK")

  val corpusTokenizeSql: String =
    s"""WITH RECURSIVE $tokCtes
       |SELECT d.doc_id,
       |  COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_tokens, 0) AS n_tokens,
       |  COALESCE(n_vocab_tokens, 0) AS n_vocab_tokens
       |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin

  /** Gated: the doc-atomic next-fit packer budgeted in EXACT tokens —
    * same packer, same segments, real unit. */
  def corpusPackTokens(spark: SparkSession, sfDir: String): DataFrame =
    Packing.packAtomicOf(
      corpusTokenize(spark, sfDir)
        .select(col("doc_id"), col("n_tokens").as("raw_tok")))

  private val packTokensCtes: String = {
    val d0Body =
      s"""SELECT d.doc_id,
         |    least(COALESCE(pd.n_tokens, 0), ${Packing.Budget}) AS n_tok,
         |    ${Hashing.idHashSql("d.doc_id")} AS k
         |  FROM documents d LEFT JOIN perdoc pd USING (doc_id)""".stripMargin
    Packing.packCtesFor(tokCtes + ",", d0Body)
  }

  val corpusPackTokensSql: String =
    s"""$packTokensCtes
       |SELECT doc_id, n_tok, seg * ${Packing.PackIdStride} + pack AS pack_id,
       |  off AS pack_off
       |FROM rec""".stripMargin

  /** Fill audit of the TOKEN-budgeted packs — what fraction of each
    * training row's context the packer actually filled, in the unit the
    * budget is bought in (the word-packer's [[Packing.corpusPackStats]]
    * twin; the segment-tail loss is again a measured number). */
  def corpusPackTokensStats(spark: SparkSession, sfDir: String): DataFrame =
    Packing.packStatsOf(corpusPackTokens(spark, sfDir))

  val corpusPackTokensStatsSql: String =
    s"""$packTokensCtes
       |SELECT seg * ${Packing.PackIdStride} + pack AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  (CAST(SUM(n_tok) AS BIGINT) * 10000) // ${Packing.Budget} AS fill_bp
       |FROM rec GROUP BY 1""".stripMargin

  // ------------------------------------------- token-unit curation

  /** Per-source exact TOKEN budget — the number a training mix is
    * actually planned by (char mass is the proxy [[Curation.sourceMixture]]
    * reports; model budgets are bought in tokens). One column-pruned
    * join of the per-doc token stats onto the doc→source map, a tiny
    * per-source agg, and a 1-row total broadcast for the share. */
  def sourceTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val per = corpusTokenize(spark, sfDir)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_vocab_tokens")).as("n_vocab_tokens"))
    val total = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_vocab_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("token_share"))
  }

  val sourceTokenBudgetSql: String =
    s"""WITH RECURSIVE $tokCtes,
       |per AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(COALESCE(n_words, 0)) AS BIGINT) AS n_words,
       |    CAST(SUM(COALESCE(n_tokens, 0)) AS BIGINT) AS n_tokens,
       |    CAST(SUM(COALESCE(n_vocab_tokens, 0)) AS BIGINT) AS n_vocab_tokens
       |  FROM documents d LEFT JOIN perdoc USING (doc_id) GROUP BY d.source)
       |SELECT source, n_docs, n_words, n_tokens, n_vocab_tokens,
       |  CAST(n_tokens AS DOUBLE) /
       |    CAST((SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per) AS DOUBLE)
       |    AS token_share
       |FROM per""".stripMargin

  /** Token-mass mixture rebalancer — [[Curation.sampleMixtureBalanced]]
    * with the balance unit upgraded from char mass to EXACT tokens:
    * rate_pm(s) = min_token_mass · 1000 div token_mass_s, accept iff
    * polyHash("mixtok:" + doc_id) mod 1000 < rate_pm. Same stateless
    * hash-threshold accept (retry/partitioning/ingestion-stable); the
    * rate frame is O(#sources) and broadcast. */
  def sampleMixtureTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GraftFunctions
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val st = corpusTokenize(spark, sfDir)
      .join(src, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val mass = st.groupBy(col("source")).agg(sum(col("n_tokens")).as("stok"))
    val minM = mass.agg(min(col("stok")).as("mn"))
    val rates = mass.crossJoin(minM)
      .select(col("source"), expr("mn * 1000 div stok").as("rate_pm"))
    st.join(broadcast(rates), Seq("source"))
      .filter(GraftFunctions.polyHash(
        concat_ws(":", lit("mixtok"), col("doc_id").cast("string"))) % 1000
        < col("rate_pm"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate_pm"))
  }

  val sampleMixtureTokensSql: String = {
    val h = Hashing.stringHashSql("'mixtok:' || CAST(doc_id AS VARCHAR)")
    s"""WITH RECURSIVE $tokCtes,
       |st AS (SELECT d.doc_id, d.source, COALESCE(n_tokens, 0) AS n_tokens
       |  FROM documents d LEFT JOIN perdoc USING (doc_id)),
       |c AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS stok
       |  FROM st GROUP BY source),
       |m AS (SELECT MIN(stok) AS mn FROM c),
       |r AS (SELECT source, CAST(mn * 1000 // stok AS BIGINT) AS rate_pm FROM c, m)
       |SELECT st.doc_id, st.source, st.n_tokens, r.rate_pm
       |FROM st JOIN r USING (source)
       |WHERE ($h) % 1000 < r.rate_pm""".stripMargin
  }

  /** Per-LANGUAGE tokenizer fertility — tokens per word (integer
    * permille) and out-of-vocab token rate, by language: the tokenizer-
    * equity audit of the multilingual-LLM literature (a vocab trained on
    * the majority language fragments minority-language words into more,
    * rarer pieces; training cost per unit text rises with fertility).
    * One column-pruned doc→lang join onto the per-doc token stats and a
    * #langs-row agg — the [[sourceTokenBudget]] shape keyed by lang. */
  def tokenFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    corpusTokenize(spark, sfDir)
      .join(langs, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_vocab_tokens")).as("n_vocab_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        when(col("n_words") === 0, 0L)
          .otherwise(expr("n_tokens * 1000L div n_words"))
          .as("fertility_pm"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(n_tokens - n_vocab_tokens) * 1000L div n_tokens"))
          .as("oov_pm"))
  }

  val tokenFertilitySql: String =
    s"""WITH RECURSIVE $tokCtes,
       |per AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(COALESCE(n_words, 0)) AS BIGINT) AS n_words,
       |    CAST(SUM(COALESCE(n_tokens, 0)) AS BIGINT) AS n_tokens,
       |    CAST(SUM(COALESCE(n_vocab_tokens, 0)) AS BIGINT) AS n_vocab_tokens
       |  FROM documents d LEFT JOIN perdoc USING (doc_id) GROUP BY d.lang)
       |SELECT lang, n_docs, n_words, n_tokens,
       |  CASE WHEN n_words = 0 THEN 0
       |       ELSE n_tokens * 1000 // n_words END AS fertility_pm,
       |  CASE WHEN n_tokens = 0 THEN 0
       |       ELSE (n_tokens - n_vocab_tokens) * 1000 // n_tokens END AS oov_pm
       |FROM per""".stripMargin

  /** Vocab drift across an ingest step — the check that catches a
    * frozen tokenizer rotting as the corpus shifts: the vocab is
    * TRAINED on the persisted snapshot cohort (the [[Incremental]]
    * idHash%4≠0 split) and APPLIED to the whole corpus; the gate
    * reports per-cohort token accounting and the out-of-vocab token
    * rate in integer permille. A healthy stationary corpus shows
    * near-equal OOV rates; distribution shift shows up as the batch
    * cohort's oov_pm pulling away from the snapshot's — measured,
    * deterministic, and cheap enough to run per ingest. */
  def vocabDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ih", Hashing.idHash(col("doc_id")))
    val snapVocab = vocabRowOf(wtfOf(docs.filter(col("ih") % 4 =!= 0)), VocabK)
    tokenStatsOf(docs, snapVocab)
      .join(docs.select(col("doc_id"),
        when(col("ih") % 4 === 0, "batch").otherwise("snapshot").as("cohort")),
        Seq("doc_id"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_vocab_tokens")).as("n_vocab_tokens"))
      .select(col("cohort"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_vocab_tokens"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(n_tokens - n_vocab_tokens) * 1000L div n_tokens"))
          .as("oov_pm"))
  }

  val vocabDriftSql: String = {
    val ih = Hashing.idHashSql("doc_id")
    val ctes = tokCtesWith(
      s"""sd AS (SELECT doc_id FROM documents WHERE ($ih) % 4 <> 0),
         |scnt AS (SELECT word, COUNT(*) AS c FROM tw JOIN sd USING (doc_id)
         |  GROUP BY word),
         |""".stripMargin,
      s"SELECT word AS piece FROM scnt ORDER BY c DESC, word LIMIT $VocabK")
    s"""WITH RECURSIVE $ctes,
       |coh AS (SELECT d.doc_id,
       |    CASE WHEN ($ih) % 4 = 0 THEN 'batch' ELSE 'snapshot' END AS cohort,
       |    COALESCE(n_words, 0) AS n_words,
       |    COALESCE(n_tokens, 0) AS n_tokens,
       |    COALESCE(n_vocab_tokens, 0) AS n_vocab_tokens
       |  FROM documents d LEFT JOIN perdoc USING (doc_id))
       |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_vocab_tokens) AS BIGINT) AS n_vocab_tokens,
       |  CASE WHEN SUM(n_tokens) = 0 THEN 0
       |       ELSE (CAST(SUM(n_tokens) AS BIGINT)
       |             - CAST(SUM(n_vocab_tokens) AS BIGINT)) * 1000
       |            // CAST(SUM(n_tokens) AS BIGINT) END AS oov_pm
       |FROM coh GROUP BY cohort""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_tokenize" -> (corpusTokenize _),
    "corpus_pack_tokens" -> (corpusPackTokens _),
    "corpus_pack_tokens_stats" -> (corpusPackTokensStats _),
    "source_token_budget" -> (sourceTokenBudget _),
    "sample_mixture_tokens" -> (sampleMixtureTokens _),
    "corpus_token_fertility" -> (tokenFertility _),
    "corpus_vocab_drift" -> (vocabDrift _))

  // The pack oracles chain tokenize → next-fit: every non-recursive CTE
  // is forced MATERIALIZED (the oracle engine otherwise re-expands the
  // tokenize chain per recursive rank — the Packing.packCtesFor
  // pathology; sf3 went ORACLE-TIMEOUT → minutes). `tok`/`rec` are the
  // recursive working tables and must stay plain.
  val oracles: Map[String, String] = Map(
    "corpus_tokenize" -> corpusTokenizeSql,
    // `vocab` must stay plain as well: it is the correlated-subquery
    // target inside the RECURSIVE `tok` CTE, and the oracle engine
    // mis-executes that shape when the target is MATERIALIZED (sf3:
    // greedy matches intermittently missed → n_tok inflated on 90k of
    // 150k docs, varying ACROSS executions of the identical statement —
    // the pack gate and its stats twin disagreed in one compare run).
    // It is 32 rows; re-expanding it costs nothing.
    "corpus_pack_tokens" ->
      Hashing.materializeCtes(corpusPackTokensSql,
        except = Set("tok", "rec", "vocab")),
    "corpus_pack_tokens_stats" ->
      Hashing.materializeCtes(corpusPackTokensStatsSql,
        except = Set("tok", "rec", "vocab")),
    "source_token_budget" -> sourceTokenBudgetSql,
    "sample_mixture_tokens" -> sampleMixtureTokensSql,
    "corpus_token_fertility" -> tokenFertilitySql,
    "corpus_vocab_drift" -> vocabDriftSql)
}
