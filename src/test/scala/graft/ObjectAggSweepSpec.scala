package graft

/** Surface-wide object-aggregation sweep (round-15 verdict item 4 → the
  * generalized q21 lesson): ObjectHashAggregate (collect_list /
  * collect_set / any TypedImperativeAggregate without a columnar
  * buffer) silently falls back to SORT-BASED aggregation past 128
  * distinct keys, and under full-session memory pressure that fallback
  * degraded q21 8× at sf10 while staying invisible in isolated runs.
  * This sweep walks the physical plan of EVERY gated key and fails if
  * an ObjectHashAggregate appears outside the allowlist below, where
  * each entry carries its written boundedness argument (the aggregate's
  * input or per-group state is bounded by construction, so the
  * sort-based fallback can never see an SF-growing working set).
  *
  * Scope: the batch surface. Streaming keys return a read-back of their
  * sink (their plan here is just a parquet scan); their stateful aggs
  * run in the streaming engine's state-store path, pinned separately by
  * StreamingSpec. The graft_top_k_smallest bounded heap is a
  * TypedImperativeAggregate and thus plans as ObjectHashAggregate —
  * allowlisted where its per-group state is a K-element heap. */
class ObjectAggSweepSpec extends SparkSpec {

  /** key → why its object aggregation cannot see SF-growing state. */
  private val allow: Map[String, String] = {
    // Tokenize.vocabRowOf: collect_list AFTER limit(VocabK) — its input
    // is the constant-size top-K vocab, one bounded row regardless of SF.
    val vocabRow = Seq("corpus_tokenize", "corpus_token_fertility",
      "corpus_vocab_drift", "corpus_pack_tokens", "corpus_pack_tokens_stats",
      "corpus_train_manifest", "corpus_train_summary",
      "sample_mixture_tokens", "source_token_budget")
      .map(_ -> "vocabRowOf: collect_list after limit(VocabK), constant input")
    // Clustering.finalCentroids: collect_list grouped by cid over the
    // per-dimension mean rows — exactly Dim=64 rows per group, K groups.
    val centroid = Seq("embedding_kmeans", "embedding_outliers",
      "embedding_pq_residual_report", "sample_diverse_cells")
      .map(_ -> "finalCentroids: 64 dimension rows per cid, K groups")
    // graft_top_k_smallest plans as ObjectHashAggregate but its
    // per-group state is a K-bounded heap (K ≤ BucketCap=32) — the
    // bounded-exchange primitive itself.
    val heap = Seq("tfidf_top_terms", "dedup_containment_topk",
      "dedup_hamming_degree_hist", "dedup_method_agreement_capped",
      "dedup_jaccard_topk", "dedup_incremental_containment_topk",
      "dedup_phash_degree_hist")
      .map(_ -> "graft_top_k_smallest: K-bounded heap per group")
    // Reference collect-then-finish semantics (SURVEY §2 A1/A3/A4): the
    // OUTPUT row is the per-key sorted value list, so group state equals
    // the answer — no report exists without materializing it. The scale
    // path is the declarative/bounded twin of each.
    val contract = Seq("mr_inverted_index", "mr_sorted_concat",
      "mr_constant_tuples")
      .map(_ -> "reference A1/A3/A4: the output IS the per-key value list")
    (vocabRow ++ centroid ++ heap ++ contract).toMap
  }

  test("no ObjectHashAggregate on an SF-growing input anywhere in the surface") {
    val errors = scala.collection.mutable.ListBuffer[String]()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString
          catch {
            case e: Throwable =>
              errors += s"$name: ${e.getMessage}"; ""
          }
        if (plan.contains("ObjectHashAggregate") && !allow.contains(name))
          Some(name)
        else None
    }
    // Building a plan must never throw — a key that can't even plan
    // would silently escape the sweep otherwise.
    assert(errors.isEmpty, "plan build failures:\n" + errors.mkString("\n"))
    assert(offenders.isEmpty,
      "ObjectHashAggregate on unallowlisted keys (add a written bound " +
        "or restructure):\n" + offenders.mkString("\n"))
    // The allowlist must not rot: every entry still names a live key.
    val stale = allow.keySet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty, s"allowlist entries for dead keys: $stale")
  }
}
