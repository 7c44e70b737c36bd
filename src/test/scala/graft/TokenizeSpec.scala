package graft

import org.apache.spark.sql.functions._

import graft.ext.Tokenize
import graft.functions.{GraftFunctions => GF}

/** Greedy fixed-vocab tokenizer: kernel-level greedy pins, word-boundary
  * additivity (and in-word NON-additivity), zero-word docs, vocab
  * derivation determinism, and token-budget packing consistency. */
class TokenizeSpec extends SparkSpec {
  import spark.implicits._

  private def pieces(word: String, vocab: Seq[String]): (Long, Long) = {
    val Seq(n, nv) = Seq(word).toDF("w")
      .select(GF.greedyPieces(col("w"),
        array(vocab.map(lit): _*)).as("pc"))
      .select(explode(col("pc"))).as[Long].collect().toSeq
    (n, nv)
  }

  test("greedy longest-match pins") {
    // Whole-word match is one piece.
    assert(pieces("the", Seq("the", "a")) == (1L, 1L))
    // OOV word with an in-vocab PREFIX: the|o|r|y.
    assert(pieces("theory", Seq("the")) == (4L, 1L))
    // Fully OOV: pure char fallback.
    assert(pieces("xyz", Seq("the")) == (3L, 0L))
    // LONGEST match wins over a shorter one at the same cursor.
    assert(pieces("abc", Seq("a", "abc")) == (1L, 1L))
    // Greedy is context-dependent within a word: "abab" with {"aba","b"}
    // = aba|b (2), but its halves each cost 2 — in-word splitting is NOT
    // additive, which is exactly why token budgets must come from the
    // real tokenizer rather than from per-fragment arithmetic.
    assert(pieces("abab", Seq("aba", "b")) == (2L, 2L))
    assert(pieces("ab", Seq("aba", "b")) == (2L, 1L))
    // Mid-word vocab hits count as vocab pieces: s|m|a|l|l with {"a"}.
    assert(pieces("small", Seq("a")) == (5L, 1L))
    // Empty word: zero pieces.
    assert(pieces("", Seq("the")) == (0L, 0L))
  }

  test("word-boundary additivity: tokenize(a ++ ' ' ++ b) = tokenize(a) + tokenize(b)") {
    val vocab = Seq((1L, "the a quick brown the fox")).toDF("doc_id", "text")
    // vocabRowOf takes the kernel-shaped (word, tf) frame since r15.
    val vocabRow = Tokenize.vocabRowOf(
      vocab.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")), 3)
    val a = "the quick brown fox jumps"
    val b = "over the lazy dog again"
    val docs = Seq((1L, a), (2L, b), (3L, s"$a $b")).toDF("doc_id", "text")
    val st = Tokenize.tokenStatsOf(docs, vocabRow).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (c <- Seq("n_words", "n_tokens", "n_vocab_tokens"))
      assert(st(3L).getAs[Long](c) ==
        st(1L).getAs[Long](c) + st(2L).getAs[Long](c),
        s"$c not additive across a word boundary")
  }

  test("zero-word docs surface with zeroed counts") {
    val vocabRow = Tokenize.vocabRowOf(
      Seq((1L, "a", 1L)).toDF("doc_id", "word", "tf"), 4)
    val docs = Seq((1L, "some words here"), (2L, ""), (3L, "123 !!"))
      .toDF("doc_id", "text")
    val st = Tokenize.tokenStatsOf(docs, vocabRow).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(st.keySet == Set(1L, 2L, 3L))
    assert(st(2L).getAs[Long]("n_words") == 0 && st(2L).getAs[Long]("n_tokens") == 0)
    assert(st(3L).getAs[Long]("n_words") == 0 && st(3L).getAs[Long]("n_tokens") == 0)
  }

  test("corpus gate: non-vacuous OOV and exact totals reconcile") {
    val st = Tokenize.corpusTokenize(spark, sf)
    val agg = st.agg(sum(col("n_words")), sum(col("n_tokens")),
      sum(col("n_vocab_tokens"))).as[(Long, Long, Long)].head()
    val (nw, nt, nv) = agg
    assert(nt > nw, "no OOV splitting happened — vocab covers the corpus, gate vacuous")
    assert(nv <= nt && nv > 0, "vocab hits out of range")
    // Every doc: tokens >= words (a word is >= 1 piece), and a doc of
    // only in-vocab words has n_tokens == n_words.
    assert(st.filter(col("n_tokens") < col("n_words")).count() == 0)
  }

  test("source token budget reconciles with per-doc counts; shares sum to 1") {
    val per = Tokenize.sourceTokenBudget(spark, sf).collect()
    assert(per.length > 1)
    val totalFromBudget = per.map(_.getAs[Long]("n_tokens")).sum
    val totalFromDocs = Tokenize.corpusTokenize(spark, sf)
      .agg(sum(col("n_tokens"))).as[Long].head()
    assert(totalFromBudget == totalFromDocs)
    val shares = per.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shares - 1.0) < 1e-9)
  }

  test("token-mass mixture: lightest source keeps all; accepts match the hash rule") {
    val rows = Tokenize.sampleMixtureTokens(spark, sf).collect()
    assert(rows.nonEmpty)
    val rates = rows.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("rate_pm")).toMap
    assert(rates.values.max == 1000L, "no source kept whole — rates wrong")
    assert(rates.values.forall(r => r > 0 && r <= 1000))
    // Acceptance is exactly the stateless hash threshold.
    val viaRule = Tokenize.sampleMixtureTokens(spark, sf)
      .filter(graft.functions.GraftFunctions.polyHash(
        concat_ws(":", lit("mixtok"), col("doc_id").cast("string"))) % 1000
        >= col("rate_pm")).count()
    assert(viaRule == 0)
  }

  test("vocab drift: snapshot-trained vocab applied corpus-wide, both cohorts reported") {
    val rows = Tokenize.vocabDrift(spark, sf).collect()
      .map(r => r.getAs[String]("cohort") -> r).toMap
    assert(rows.keySet == Set("batch", "snapshot"))
    rows.values.foreach { r =>
      val oov = r.getAs[Long]("oov_pm")
      assert(oov >= 0 && oov < 1000, s"oov_pm out of range: $oov")
      assert(r.getAs[Long]("n_vocab_tokens") <= r.getAs[Long]("n_tokens"))
      assert(oov > 0, "no OOV at all — drift gate vacuous")
    }
    // Cohorts partition the corpus.
    val total = Tables.documents(spark, sf).count()
    assert(rows.values.map(_.getAs[Long]("n_docs")).sum == total)
  }

  test("token fertility: per-lang sums reconcile with per-doc stats, permille exact") {
    val langOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect().toMap
    val perDoc = Tokenize.corpusTokenize(spark, sf)
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        col("n_vocab_tokens")).as[(Long, Long, Long, Long)].collect()
    val want = perDoc.groupBy(t => langOf(t._1)).map { case (l, xs) =>
      l -> (xs.length.toLong, xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum)
    }
    val rows = Tokenize.tokenFertility(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet == want.keySet)
    rows.foreach { r =>
      val (nd, nw, nt, nvt) = want(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_words") == nw)
      assert(r.getAs[Long]("n_tokens") == nt)
      assert(r.getAs[Long]("fertility_pm") == (if (nw == 0) 0L else nt * 1000 / nw))
      assert(r.getAs[Long]("oov_pm") == (if (nt == 0) 0L else (nt - nvt) * 1000 / nt))
      // A token never splits below one per word: fertility >= 1000.
      assert(nw == 0 || r.getAs[Long]("fertility_pm") >= 1000L)
    }
  }

  test("token packing respects the budget and places every doc exactly once") {
    val packed = Tokenize.corpusPackTokens(spark, sf)
    val overBudget = packed.groupBy(col("pack_id"))
      .agg(sum(col("n_tok")).as("fill"))
      .filter(col("fill") > ext.Packing.Budget).count()
    assert(overBudget == 0, "a token-budgeted pack exceeds the budget")
    val docs = Tables.documents(spark, sf).count()
    assert(packed.count() == docs)
    assert(packed.select(col("doc_id")).distinct().count() == docs)
    // Pack costs are the tokenizer's counts (capped), not word counts.
    val tok = Tokenize.corpusTokenize(spark, sf)
      .select(col("doc_id"), least(col("n_tokens"),
        lit(ext.Packing.Budget)).as("want"))
    val mismatch = packed.join(tok, Seq("doc_id"))
      .filter(col("n_tok") =!= col("want")).count()
    assert(mismatch == 0)
    // Fill audit reconciles with the packed rows and honors the budget.
    val stats = Tokenize.corpusPackTokensStats(spark, sf)
    assert(stats.filter(col("fill_bp") > 10000).count() == 0)
    val massFromStats = stats.agg(sum(col("n_tokens")))
      .as[Long].head()
    val massFromPacks = packed.agg(sum(col("n_tok"))).as[Long].head()
    assert(massFromStats == massFromPacks)
  }
}
