package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression pins: the properties that make these
  * pipelines scale (pushdown, pruning, broadcast choice, map-side-ness,
  * partial aggregation) asserted against the optimizer's actual output,
  * so a refactor that silently de-optimizes a plan fails CI, not the
  * 100 TB run. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter reaches the parquet scan; columns pruned") {
    val p = plan(ext.Relational.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment"), "scan reads unused column")
    // Partial + final hash aggregation around one exchange.
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q3: dimension filter pushed; dims broadcast, no cartesian") {
    val p = plan(ext.Relational.q3TopOrders(spark, sf))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q5: region-pruned supplier dim broadcast into lineitem BEFORE the fact shuffle") {
    val p = plan(ext.Relational.q5RegionVolume(spark, sf))
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
    assert(!p.contains("CartesianProduct"))
    // The folded region→nation→supplier dim joins lineitem BELOW the
    // l⋈o join: the region filter's selectivity prunes the fact side
    // before the fact join (and before its exchange at SFs where l⋈o
    // shuffles), not after it (round-14 semi-join reduction; Catalyst
    // cannot reorder this without CBO stats). Children print below
    // parents, so "deeper" = larger index.
    val oJoin = p.indexOf("Join [l_orderkey")
    val sJoin = p.indexOf("Join [l_suppkey")
    assert(oJoin >= 0 && sJoin >= 0, p)
    assert(sJoin > oJoin, p)
  }

  test("q7: both fact sides nation-filtered before the only fact⋈fact shuffle") {
    val p = plan(ext.Relational.q7NationVolume(spark, sf))
    // The two-nation dim filter is pushed all the way into the nation scan.
    assert(p.contains("In(n_name, [NATION_1,NATION_2])"), p)
    assert(!p.contains("CartesianProduct"))
    val li = p.indexOf("Exchange hashpartitioning(l_orderkey")
    val oi = p.indexOf("Exchange hashpartitioning(o_orderkey")
    assert(li >= 0 && oi >= 0, p)
    // Left (lineitem) child prints before right (orders); a flip would
    // make the substring below throw instead of explaining itself.
    assert(li < oi, p)
    // Subtrees print contiguously under their exchange: the lineitem side
    // must already contain the supplier-nation broadcast join and the
    // orders side the customer-nation one — i.e. both fact inputs are
    // nation-pruned BEFORE the l⋈o exchange, not after it.
    assert(p.substring(li, oi).contains("BroadcastHashJoin"), p.substring(li, oi))
    assert(p.substring(oi).contains("BroadcastHashJoin"), p.substring(oi))
  }

  test("q8: every dim broadcast, exactly one fact⋈fact shuffle, no cartesian") {
    val p = plan(ext.Relational.q8MarketShare(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // part/supplier/nation/region/customer legs all broadcast…
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    // …so lineitem⋈orders is the only shuffled join.
    assert("SortMergeJoin".r.findAllIn(p).size <= 1, p)
    // The part-type filter is pushed into the part scan (prunes the
    // lineitem side before the fact join).
    assert(p.contains("EqualTo(p_type,STANDARD)"), p)
  }

  test("q4/q21: semi/anti joins stay equi-keyed (no nested-loop degeneration)") {
    // The non-equi legs (date comparison, supplier inequality) must ride
    // the orderkey equi-join as residual conditions, not degrade the
    // join itself to a nested loop.
    for (df <- Seq(ext.Relational.q4PriorityCount(spark, sf),
        ext.Relational.q21LateSuppliers(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("q21: codegen hash aggs only — no object aggregation in the plan") {
    // Round-15 lesson: the collect_list single-exchange form was fastest
    // ISOLATED but collect_list is an object aggregate (sort-based past
    // 128 keys) and degraded 8x in the full 292-key session under memo
    // memory pressure. The shipped shape is two explicit fact-keyed
    // exchanges with every operator whole-stage-codegen: pin the absence
    // of ObjectHashAggregate and of any reuse-reliant single-exchange
    // trick (two lineitem-keyed exchanges are EXPECTED and explicit).
    val df = ext.Relational.q21LateSuppliers(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("ObjectHashAggregate"),
      "q21 must not use object aggregation (sort-based fallback):\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected codegen partial+final hash aggregation:\n" + p)
  }

  test("q21: every fact exchange is keyed on l_orderkey alone (reusable)") {
    // Round-17 sf30 finding: with (orderkey, suppkey) as the join-back's
    // equi-keys, the optimizer strengthened the explicit fact
    // repartition to hashpartitioning(l_orderkey, l_suppkey) under the
    // sort-merge join — a different partitioning from the agg/window
    // branch, so the fact was scanned and shuffled twice at any SF
    // where the blame side outgrows broadcast. The okey-only join (the
    // supplier match is a residual range pair) must keep every
    // lineitem-side exchange on the single l_orderkey key so the
    // branches can share one exchange at every scale.
    val df = ext.Relational.q21LateSuppliers(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df).split("== Initial Plan ==")(0)
    val twoKey = "hashpartitioning\\(l_orderkey#\\d+L?, l_suppkey".r
    assert(twoKey.findFirstIn(p).isEmpty,
      "fact exchange widened to (l_orderkey, l_suppkey) — the shared-" +
        "exchange design is broken:\n" + p)
    // The hoisted not-null guards make both fact subtrees canonically
    // identical; the second consumer MUST plan as a reuse of the first
    // (one lineitem scan + one fact exchange total).
    assert(p.contains("ReusedExchange"),
      "fact exchange not reused — two lineitem scans:\n" + p)
    assert("FileScan parquet \\[l_orderkey".r.findAllIn(p).size == 1,
      "expected exactly one lineitem scan in the final plan:\n" + p)
  }

  test("q17: one lineitem scan + one fact exchange (window, no join-back)") {
    // Round-18: the sf30 plan showed q17's self-agg + join-back
    // scanning and shuffling the fact TWICE — the two fact subtrees
    // pruned columns differently, so the exchanges could never unify.
    // The whole-partition window formulation (the oracle SQL's own
    // shape) must keep exactly one lineitem scan, one l_partkey fact
    // exchange, and a Window node instead of a second join.
    val df = ext.Relational.q17SmallQtyRevenue(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df).split("== Initial Plan ==")(0)
    assert("FileScan parquet \\[l_partkey".r.findAllIn(p).size == 1,
      "expected exactly one lineitem scan in the final plan:\n" + p)
    assert("hashpartitioning\\(l_partkey#\\d+L?, ".r.findAllIn(p).size == 1,
      "expected exactly one l_partkey fact exchange:\n" + p)
    assert(p.contains("Window"), "per-part stats must ride a window:\n" + p)
  }

  test("wordcount: whole-stage codegen + map-side partial aggregation") {
    val df = apps.MrApps.wordCount(Tables.documents(spark, sf))
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val p = plan(df)
    // Codegen'd stages print as "*(n) Op" in the tree string.
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation")
    assert(p.indexOf("Generate") > p.indexOf("Exchange"),
      "tokenize+filter must run before (under) the shuffle")
  }

  test("MapReduce façade: one hash exchange on key into nReduce buckets") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val input = Seq(engine.KV("f1", "the quick brown fox the fox"),
      engine.KV("f2", "quick quick brown"), engine.KV("f3", "lazy dog the")).toDS()
    val ds = engine.MapReduce.runJob(input, engine.MapReduce.wcMap,
      engine.MapReduce.wcReduce, nReduce = 10)
    ds.collect() // finalize the adaptive plan
    val exec = ds.queryExecution.executedPlan
    val p = exec.toString
    val exchanges = H.collect(exec) { case e: Exchange => e }
    assert(exchanges.size == 1, "expected exactly one exchange:\n" + p)
    assert(exchanges.head.outputPartitioning match {
      case HashPartitioning(Seq(k: Attribute), 10) => k.name == "key"
      case _ => false
    }, "expected hashpartitioning(key, 10):\n" + p)
    // The reduce sorts each bucket on key and walks it once: no aggregate.
    val sorts = H.collect(exec) { case s: SortExec => s }
    assert(sorts.exists(s => s.sortOrder.map(_.child).collect {
      case k: Attribute => k.name } == Seq("key") &&
      H.collect(s) { case e: Exchange => e }.nonEmpty),
      "expected a Sort on key above the exchange:\n" + p)
    for (op <- Seq("ObjectHashAggregate", "HashAggregate", "MapGroups"))
      assert(!p.contains(op), s"$op in the reduce stage:\n" + p)
    assert(ds.rdd.getNumPartitions == 10)
  }

  test("generic-reduce twins: the façade's reduce — key exchange, key sort, no aggregate") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.Exchange
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // The indexer's per-document distinct brings its own exchange below.
    val twins = Map("mr_reduce_count" -> 1, "mr_reduce_sorted_concat" -> 1,
      "mr_reduce_indexer" -> 2)
    for ((name, nExchanges) <- twins) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize the adaptive plan
      val exec = df.queryExecution.executedPlan
      val p = exec.toString
      val exchanges = H.collect(exec) { case e: Exchange => e }
      assert(exchanges.size == nExchanges, s"$name exchanges:\n$p")
      val keyed = exchanges.filter(_.outputPartitioning match {
        case HashPartitioning(Seq(k: Attribute), 10) => k.name == "key"
        case _ => false
      })
      assert(keyed.size == 1, s"$name: expected hashpartitioning(key, 10):\n$p")
      val sorts = H.collect(exec) { case s: SortExec => s }
      assert(sorts.exists(s => s.sortOrder.map(_.child).collect {
        case k: Attribute => k.name } == Seq("key") &&
        H.collect(s) { case e: Exchange => e }.contains(keyed.head)),
        s"$name: expected a Sort on key above the key exchange:\n$p")
      assert(!p.contains("ObjectHashAggregate"), s"$name:\n$p")
    }
  }

  /** Column sets actually read by the plan's scans. When another suite
    * cached the table, the InMemoryTableScan line is the authoritative
    * pruned read (the FileScan inside the cached relation keeps all
    * columns by design); otherwise the parquet ReadSchema is. */
  private def scanCols(p: String): Seq[Set[String]] = {
    val ims = """InMemoryTableScan \[([^\]]*)\]""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    if (ims.nonEmpty)
      ims.map(_.split(",").map(_.trim.takeWhile(_ != '#')).toSet)
    else
      """ReadSchema: struct<([^>]*)>""".r.findAllMatchIn(p).map(_.group(1))
        .toSeq.map(_.split(",").map(_.takeWhile(_ != ':')).toSet)
  }

  test("dedup_exact: scan reads only the columns the query needs") {
    val cols = scanCols(plan(ext.Dedup.exact(spark, sf)))
    assert(cols.nonEmpty)
    cols.foreach(c => assert(c == Set("doc_id", "text"), c))
  }

  test("knn_bruteforce: query side broadcast (nested-loop), corpus streams") {
    val p = plan(ext.Similarity.knnBruteForce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("sample_stratified: pure map-side — zero exchanges") {
    val p = plan(ext.Curation.sampleStratified(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("minhash sigs: zero exchanges (signature computed inline)") {
    val p = plan(ext.Dedup.minhashSigs(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("asof join: single shuffle on the key, no inequality join") {
    val p = plan(ext.AsOf.eventsAsofOrders(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // union + window: the as-of itself adds exactly one hash exchange on
    // __k (the orders-side dedup aggregation has its own).
    assert("Exchange hashpartitioning\\(__k".r.findAllIn(p).size == 1, p)
  }

  test("range join: bin-bucketed equi-join, never a cross product") {
    val p = plan(ext.RangeJoin.eventPairsWithin(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("click attribution: equi-join on user, range as residual, no cartesian") {
    val p = plan(ext.Events.clickAttribution(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "time-range condition must ride the user_id equi-join, not a cross product")
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,click)"),
      "both event_type filters must be pushed to their scans")
  }

  test("bloom filter: the bit-set side is broadcast, never shuffled large") {
    val p = plan(ext.Sketches.bloomMembership(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "probe⋈bits must broadcast the bits")
    assert(!p.contains("CartesianProduct"))
  }

  test("order intervals: both window specs share one custkey exchange") {
    val p = plan(ext.Relational.ordersOrderIntervals(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected ONE custkey exchange reused by both windows, got $exchanges\n$p")
  }

  test("grouped KMV: per-source k-smallest runs on the bounded-heap operator") {
    val p = plan(ext.Sketches.kmvGroupedShingles(spark, sf))
    assert(p.contains("TopKPerKey"),
      s"rn<=k over window must rewrite to TopKPerKeyExec (O(k) per key, " +
        s"no full per-group sort)\n$p")
  }

  test("q15: single fact pass — rev materialized once, no lineitem rescan") {
    // rev feeds both the scalar max and the final join; the localCheckpoint
    // cut means the final plan reads the materialized frame (ExistingRDD)
    // and the ONLY file scan left is the supplier dim. A regression back
    // to two filtered-lineitem scans fails here, not at 100 TB.
    val df = ext.Relational.q15TopSupplier(spark, sf)
    df.collect()
    // The AQE tree prints final AND initial plans; pin the final one.
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("lineitem"), "lineitem must not be rescanned:\n" + p)
    assert("FileScan".r.findAllIn(p).size == 1,
      "expected exactly one file scan (supplier):\n" + p)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      "both consumers must read the checkpointed rev frame:\n" + p)
  }

  test("tfidf: fused tf kernel, broadcast df, bounded top-k agg") {
    // The round-15 shape: tf comes from the zero-shuffle wordTfPairs
    // kernel (re-run per consumer — cheaper than materializing the
    // corpus-sized frame), df broadcasts back, and the per-doc top-5 is
    // the bounded CollectTopK aggregate. The only hash exchanges left
    // are the vocabulary-sized df agg and the 5-rows-per-doc top-k
    // partials; the old shape exchanged every corpus (doc, word) row
    // three times (tf groupBy, tf-df join, rank window).
    val df = ext.TextAnalysis.tfidfTopTerms(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-sized df table must broadcast back onto tf:\n" + p)
    // The executed-plan string repeats the tree under "== Initial Plan =="
    // once AQE finalizes; count exchanges in the final section only.
    val finalP = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalP).size == 2,
      "only the df agg and the k-per-doc top-k partials may exchange:\n" + p)
    assert(p.toLowerCase.contains("collect_top_k") ||
      p.contains("graft_top_k_smallest"),
      "per-doc top-5 must ride the bounded CollectTopK aggregate:\n" + p)
  }

  test("dedup_phash: band equi-join bounds candidates — no all-pairs") {
    val p = plan(ext.Multimodal.dedupPhash(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "phash candidates must come from the band equi-join:\n" + p)
  }

  test("quality stats: fully row-local — one scan, zero exchange") {
    // Every per-doc statistic folds over the doc's own token/tf/gram
    // arrays (round 15): the plan must be a single corpus scan with NO
    // exchange — the old shape exploded the corpus twice and exchanged
    // one row per (doc, word) and per (doc, gram) to re-group doc-local
    // data.
    val df = ext.Quality.repetition(spark, sf)
    df.collect()
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).size == 1,
      "per-doc stats must read the corpus exactly once:\n" + p)
    assert(!p.contains("Exchange"),
      "per-doc stats must not shuffle at all:\n" + p)
  }

  test("substring coverage: single scan, window dup-flag, no join-back") {
    // Round-17 shape: dup ⟺ min≠max over the h window — one corpus
    // scan, one window exchange, one aggregate; no localCheckpoint (the
    // old cached span frame was ~10× the corpus in bytes — the sf30
    // storage-cliff class) and no join back onto the span frame.
    val cov = ext.Substring.spanCoverage(spark, sf)
    cov.collect()
    // After collect() the AQE dump prints the final AND initial plans;
    // count scans in the final section only.
    val pc = plan(cov).split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(pc).size == 1,
      "span coverage is ONE corpus scan through a window:\n" + pc)
    assert("Window".r.findAllIn(pc).size >= 1, pc)
    assert(!pc.contains("SortMergeJoin") && !pc.contains("BroadcastHashJoin"),
      "no join-back onto the span frame:\n" + pc)
    val ps = plan(ext.Substring.duplicatedSpans(spark, sf))
    assert("FileScan".r.findAllIn(ps).size == 1,
      "span table is one corpus scan + one keyed agg:\n" + ps)
  }

  test("kmeans: centroid set broadcast, never a shuffled join") {
    val p = plan(ext.Clustering.kmeans(spark, sf))
    // The K-row centroid frame rides a broadcast nested-loop cross (the
    // argmin needs every (vector, centroid) pair — K is constant, so
    // this is the correct bounded shape, unlike a corpus cartesian).
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic dedup: cluster equi-self-join, no cartesian") {
    val df = ext.Clustering.semanticDedup(spark, sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pairs must come from the cid equi-join:\n" + p)
  }

  test("mixture rebalance: rate frame broadcast onto the corpus") {
    val p = plan(ext.Curation.sampleMixtureBalanced(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the O(#sources) rate frame must never shuffle the corpus:\n" + p)
  }

  test("kv_replay: exactly one exchange (repartition), then in-partition sort") {
    implicit val s = spark
    val p = plan(kv.KvReplay.fromEvents(spark, sf))
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("Sort") && !p.contains("rangepartitioning"),
      "expected partition-local sort, not a global one")
  }

  test("chunking: explode+substring is pure map work — zero exchanges") {
    val p = plan(ext.Chunking.chunkOverlap(spark, sf))
    assert(!p.contains("Exchange"),
      "chunking must stay shuffle-free (per-row fan-out only):\n" + p)
    assert(p.contains("Generate explode"), p)
  }

  test("quality percentile: one lang exchange, no self-join to documents") {
    val p = plan(ext.TextAnalysis.qualityPercentile(spark, sf))
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"),
      "score must ride the lang-carrying scan, not join back:\n" + p)
    assert("FileScan".r.findAllIn(p).size == 1, p)
  }

  test("redaction: regex chain is pure map work — zero exchanges") {
    val p = plan(ext.Redaction.piiRedact(spark, sf))
    assert(!p.contains("Exchange"),
      "redaction must stay shuffle-free:\n" + p)
  }

  test("retention: weekly dedup partial-aggregates before its exchange") {
    val p = plan(ext.Retention.retention(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // distinct (user, wk) must partial-aggregate map-side: at least one
    // HashAggregate pair beyond the final matrix agg
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("basket: order-keyed equi-self-join, residual < on parts, no cartesian") {
    val p = plan(ext.Basket.copurchaseBuild(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("l_orderkey"), p)
    // support filter runs AFTER the pair agg, not as a join condition
    assert(p.contains("n_orders"), p)
  }

  test("dim stats: explode fan-out collapses map-side before the exchange") {
    val p = plan(ext.Similarity.dimStats(spark, sf))
    // partial + final HashAggregate around one exchange: the 64×
    // per-vector fan-out must combine before shuffling
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("funnel: one user_id exchange serves windows + collapse, no self-join") {
    val p = plan(ext.Funnel.funnelUsers(spark, sf))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "funnel must not expand into self-joins:\n" + p)
  }

  test("tokenize: vocab rides a broadcast, piece join stays keyed, no cartesian") {
    val p = plan(ext.Tokenize.corpusTokenize(spark, sf))
    // The 1-row vocab frame must be a broadcast (nested-loop against a
    // single row is the constant-size crossJoin shape), and the
    // word-keyed pieces join must not degenerate to a cross product.
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lm surprisal: total broadcast; word join keyed; no cartesian") {
    val p = plan(ext.TextAnalysis.lmSurprisal(spark, sf))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The per-word counts partial-aggregate map-side before shuffling.
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("boilerplate: (source,h)-keyed agg partial-aggregates; join keyed") {
    val p = plan(ext.Substring.boilerplate(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // The (source,h) recurrence count must combine map-side before its
    // exchange (partial + final HashAggregate) — the span fan-out is
    // ~len(doc) rows per doc and must not shuffle raw.
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("bucketed join: co-located buckets, ZERO join-key exchanges") {
    val p = plan(ext.Formats.bucketedJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), p)
    // The entire point of the layout: neither fact side shuffles on the
    // join key — bucket i zips with bucket i straight off the scan.
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
  }

  test("source report: every per-source merge broadcasts; no cartesian") {
    val p = plan(ext.Curation.sourceReport(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // The four per-source legs merge on a #sources-row key — all three
    // LEFT joins must be broadcasts, never a shuffled sort-merge join.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("prefix join: all joins keyed on token hash or doc_id, no cartesian") {
    val p = plan(ext.Dedup.jaccardPrefixJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // The candidate self-join is an equi-join on h with the residual <
    // on doc ids — never an inequality-only join.
    assert(p.contains("hashpartitioning(h") || p.contains("h#"), p)
  }

  test("snm: bucket equi-join keyed; ordered window only over partition ids") {
    val p = plan(ext.Dedup.sortedNeighborhood(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // The distributed rank: a range-partitioned sort on the signature
    // key (never a global sort into one partition), per-partition
    // row_numbers, and SinglePartition exchanges ONLY for the
    // #partitions-row offset tables (one per self-join side). The
    // self-join duplicates the rank subtree, so 2 windows per side.
    assert(p.contains("rangepartitioning(simhash"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2, p)
    assert("Window \\[".r.findAllIn(p).size <= 4, p)
  }

  test("simhash hamming: band self-join keyed on (band, key), no cartesian") {
    val p = plan(ext.Dedup.simhashHamming(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // The doc_id < residual rides the band equi-join; the exact
    // bit_count verify is a post-join filter, never a join condition
    // on its own.
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
  }

  test("gram matrix: one exchange; partial cells combine map-side") {
    val p = plan(ext.Similarity.gramMatrix(spark, sf))
    // d(d+1)/2 cells per partition, partial + final agg around the one
    // exchange — the corpus never shuffles row-wise.
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("bm25 + postings: query terms broadcast, posting joins keyed") {
    for (df <- Seq(ext.TextAnalysis.bm25TopK(spark, sf),
        ext.TextAnalysis.searchRrf(spark, sf),
        ext.TextAnalysis.postingsAnd(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastExchange"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("communities + kcore: every round joins keyed, no cartesian") {
    // communitiesOf is the un-memoized seam — the partsCommunities gate
    // now reads a sessionMemo checkpoint, whose plan is a scan.
    for (df <- Seq(
        ext.Communities.communitiesOf(ext.Basket.copurchase(spark, sf)
          .select(org.apache.spark.sql.functions.col("part_a"),
            org.apache.spark.sql.functions.col("part_b"))),
        ext.Communities.partsKcore(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
    // Modularity attaches the 1-row edge-count m by broadcast (the
    // scalar-attach idiom) — that's the only nested-loop allowed.
    val pm = plan(ext.Communities.partsModularity(spark, sf))
    assert(!pm.contains("CartesianProduct"), pm)
    assert(pm.contains("BroadcastExchange"), pm)
  }

  test("bfs + kcore rounds: the edge list is broadcast past or shuffled at the round width") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def unwrap(p: SparkPlan) = p match {
      case w: WholeStageCodegenExec => w.child
      case o => o
    }
    // A session 16 wide, so a round width of 8 is told apart from an
    // exchange planned at the session setting.
    val n = ext.Frames.roundShuffleParts(12L, 16)
    assert(n == 8)
    for (broadcast <- Seq(true, false)) {
      val wide = spark.newSession()
      wide.conf.set("spark.sql.shuffle.partitions", "16")
      if (!broadcast) wide.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import wide.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .toDF("src", "dst").localCheckpoint()
      val nodes = Seq(1L, 2L, 3L, 5L).toDF("node").localCheckpoint()
      val seed = nodes.filter(col("node") === 1L)
      // (round frame, joins against the edge list, broadcast joins with
      // broadcasts on: Bfs also broadcasts `visited` into its anti-join)
      for ((round, joins, broadcasts) <- Seq(
          (ext.Bfs.expand(edges, seed,
            nodes.filter(col("node") < 3L).withColumn("hop", col("node") * 0L),
            1, n), 1, 2),
          (ext.Communities.degrees(edges, None, n), 0, 0),
          (ext.Communities.degrees(edges, Some(nodes), n), 2, 2))) {
        round.collect() // finalize the adaptive plan
        val exec = round.queryExecution.executedPlan
        val shuffles = H.collect(exec) { case e: ShuffleExchangeLike => e }
        // An exchange of `src` rows other than the count's moves edges.
        val edgeWidths = shuffles.filter(e => e.child.output.exists(_.name == "src") &&
          !unwrap(e.child).isInstanceOf[HashAggregateExec]).map(_.numPartitions)
        val bhj = H.collect(exec) { case j: BroadcastHashJoinExec => j }.size
        if (broadcast)
          assert(edgeWidths.isEmpty && bhj == broadcasts,
            s"edge shuffles $edgeWidths, $bhj broadcast joins:\n$exec")
        else
          assert(edgeWidths.size == joins && edgeWidths.forall(_ == n),
            s"edge shuffles $edgeWidths, want $joins × $n:\n$exec")
        // The distinct / degree count combines map-side before its
        // shuffle; after k-core's shuffled `src` join it needs none.
        val combined = shuffles.exists(e => unwrap(e.child).isInstanceOf[HashAggregateExec])
        assert(combined == (broadcast || joins < 2),
          s"partial aggregate under a shuffle: $combined\n$exec")
      }
    }
  }

  test("triangles: wedge + closure are equi-joins, no cartesian") {
    val p = plan(ext.PageRank.partsTriangles(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pq: codebook join broadcasts; corpus never cartesians") {
    val p = plan(ext.ProductQuant.pqCodes(spark, sf))
    // The M*K codebook is a constant-size broadcast at any corpus scale;
    // the corpus side fans out x8 map-side and joins it on `sub`.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ivfpq: codebook broadcast; candidate/code joins keyed; no cartesian") {
    val p = plan(ext.ProductQuant.knnIvfPq(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The IVF assignment's centroid nested-loop is a CONSTANT-size
    // broadcast (64 rows) — the only NL join allowed in this plan is
    // against that broadcast, never corpus x corpus. The candidate,
    // code, and rerank joins must all be hash equi-joins.
    assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty, p)
  }

  test("containment: prefix/index joins keyed on token hash; no cartesian") {
    val p = plan(ext.Dedup.containmentJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hard negatives: label joins keyed; no cartesian beyond centroid bcast") {
    val p = plan(ext.Similarity.knnHardNegatives(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q9: part-name filter pushed to the dim scan; dims broadcast") {
    val p = plan(ext.SupplyChain.q9ProfitByNation(spark, sf))
    assert(p.contains("StringContains(p_name,red)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q11: grand total attaches as a 1-row broadcast, not a data cross join") {
    val p = plan(ext.SupplyChain.q11ImportantParts(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // The scalar attach is a broadcast NL join against a 1-row agg —
    // the ONLY nested-loop allowed here.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q16: supplier exclusion is a broadcast LEFT ANTI join") {
    val p = plan(ext.SupplyChain.q16SupplierCounts(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q20: nested aggregation reuses the l_partkey partitioning") {
    val p = plan(ext.SupplyChain.q20DominantSuppliers(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // per-(part,supplier) agg, then per-part rollup: the second agg's
    // grouping is a prefix of the first's hash partitioning, so Catalyst
    // must NOT insert a second l_partkey exchange between them.
    val pairAgg = p.indexOf("Exchange hashpartitioning(l_partkey")
    assert(pairAgg >= 0, p)
  }

  test("skyline: the only window runs on the date-reduced frame") {
    val p = plan(ext.Skyline.ordersSkyline(spark, sf))
    val wi = p.indexOf("Window")
    assert(wi >= 0, p)
    // The window's subtree must contain the per-(segment,date) max agg —
    // i.e. facts are reduced BEFORE the sort, not sorted raw.
    assert(p.substring(wi).contains("HashAggregate"), p.substring(wi))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sweep: concurrency window is day-partitioned, never global") {
    val p = plan(ext.Sweep.peakConcurrency(spark, sf))
    // Every window spec must carry the day partition key; a global
    // (unpartitioned) running sum would serialize the whole stream.
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach(s => assert(s.contains("day#"), s"global window spec: $s"))
  }

  test("link prediction: anti-join removes edges; wedge join is keyed") {
    val p = plan(ext.LinkPrediction.linkPrediction(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("compaction plan: one window per source, then pure aggregation") {
    val p = plan(ext.Compaction.compactionPlan(spark, sf))
    assert("Window".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-10 keys: keyed joins only, one scan for multiscale spans") {
    // Multiscale: the three granularities ride ONE documents scan (the
    // tagged-concat projection) — a second FileScan would mean the
    // per-K branches each re-read the corpus.
    val pm = plan(ext.Substring.multiscaleCoverage(spark, sf))
    assert(!pm.contains("CartesianProduct"), pm)
    assert("Scan parquet".r.findAllIn(pm).size <= 1,
      "multiscale re-scans the corpus per granularity")
    val pe = plan(ext.Substring.exciseReport(spark, sf))
    assert(!pe.contains("CartesianProduct"), pe)
    val ph = plan(ext.Growth.rollingActivesHll(spark, sf))
    assert(!ph.contains("CartesianProduct"), ph)
    val pl = plan(ext.Components.splitLeakage(spark, sf))
    assert(!pl.contains("CartesianProduct"), pl)
    val ps = plan(ext.Components.splitByCluster(spark, sf))
    assert(!ps.contains("CartesianProduct"), ps)
  }

  test("HITS rides one session purchase-edge build (memo seam)") {
    // Another suite in the shared session may already have built the
    // memo — assert existence + stability, not first-build (the
    // copurchase test's discipline).
    val before = ext.Frames.buildsOf("purchase_edges")
    ext.Hits.purchaseEdges(spark, sf).count()
    val afterFirst = ext.Frames.buildsOf("purchase_edges")
    assert(afterFirst >= 1 && afterFirst >= before)
    // Repeated gate runs (the bench's reps) must reuse the cut edge
    // frame, not re-run the orders ⋈ lineitem fact collapse.
    ext.Hits.partsHits(spark, sf).count()
    ext.Hits.partsHits(spark, sf).count()
    assert(ext.Frames.buildsOf("purchase_edges") == afterFirst)
    // The un-memoized build itself: a keyed join + distinct, never a
    // cartesian.
    val p = plan(ext.Hits.purchaseEdgesBuild(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph family shares one session copurchase build (memo seam)") {
    val before = ext.Frames.buildsOf("copurchase")
    ext.Basket.copurchase(spark, sf).count()
    val afterFirst = ext.Frames.buildsOf("copurchase")
    // Triangles, BFS, and PageRank must all ride the memoized pair
    // graph, not re-run the basket self-join.
    ext.PageRank.partsTriangles(spark, sf).count()
    ext.Bfs.partsBfsHops(spark, sf).count()
    assert(ext.Frames.buildsOf("copurchase") == afterFirst)
    assert(afterFirst >= before)
  }
}
