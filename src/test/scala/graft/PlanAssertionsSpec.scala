package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the shapes we rely on at 100 TB must
  * actually appear in the optimized plans — filter pushdown reaching
  * the parquet scan, broadcast joins on small dims, subquery
  * decorrelation into (semi) joins, the bloom runtime-prefilter, and
  * the as-of join's no-join single-window formulation. Guards against
  * silent plan regressions as queries evolve.
  */
class PlanAssertionsSpec extends SparkSuite {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: quantity filter is pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), p)
    assert(p.matches("(?s).*PushedFilters.*l_quantity.*"), p)
  }

  test("q02: scan reads only the three projected columns") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity")
      && !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q06/q07: dimension joins broadcast") {
    assert(plan("q06_broadcast_join").contains("BroadcastHashJoin"))
    val p7 = plan("q07_multiway_join")
    assert(p7.contains("BroadcastHashJoin"), p7)
  }

  test("q47: both subqueries decorrelate to semi joins (no subquery at runtime)") {
    val p = plan("q47_subqueries")
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
  }

  test("q53: bloom prefilter survives optimization and feeds the semi join") {
    val p = plan("q53_bloom_join")
    assert(p.contains("might_contain") || p.contains("BloomFilter"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("q34: as-of join plans as one window over a union — no join operator") {
    val p = plan("q34_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly one exchange hash-partitioned by the as-of key feeds the window
    assert(p.contains("Union"), p)
  }

  test("q14: gate plan uses the bounded-heap TopKPerKey, no WindowGroupLimit sorts") {
    // the suite session installs GraftExtensions exactly like Bench and
    // Verify, so this is the plan the driver gates actually run
    val p = plan("q14_window_rank")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("WindowGroupLimit"), p)
  }

  test("q14b: rank<=k gate plan uses the with-ties TopKPerKey flavor") {
    val p = plan("q14b_window_rank_ties")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("WindowGroupLimit"), p)
  }

  test("q16: global top-k runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q16_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q64: benchmark gram set broadcasts — corpus is never shuffled on content") {
    val p = plan("q64_decontaminate")
    // both joins broadcast: gram join (corpus ⋈ bench grams) and the
    // report's doc_id left join against the small hits aggregate
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // exactly three exchanges: the BENCHMARK side's distinct (tiny,
    // pre-broadcast), the doc_id hit-count agg, and the final sort.
    // A fourth would mean the corpus got shuffled on content.
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges\n$p")
  }

  test("q01: inverted index needs exactly one exchange (single-shuffle agg)") {
    val p = plan("q01_inverted_index")
    // count node-detail headers ("(4) Exchange") — the tree section
    // repeats each name, so a raw substring count double-counts
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    // one shuffle for the groupBy; the final orderBy adds a range
    // exchange — anything beyond those two is a regression
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$p")
  }

  test("q158: pair-free LSH gate plans as aggregations + equi-joins — " +
      "no pair enumeration, no NLJ, no cartesian") {
    val p = plan("q158_lsh_gate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gate must stay pair-free\n$p")
    // bands→owner agg, doc-level min agg, + the final sort: the band
    // equi-join and left re-attach are hash/sort-merge joins on keys
    assert(p.contains("HashAggregate"), p)
  }

  test("q151: sorted-neighborhood pairing is equi-join shaped (the rank+j " +
      "spelling), never a range theta join") {
    val p = plan("q151_sorted_neighborhood")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"window pairing must be an equi-join\n$p")
  }

  test("q166/q168: the benchmark gram set broadcasts — corpus grams are " +
      "never shuffled on content") {
    for (name <- Seq("q166_decontam_spans", "q168_decontam_excise")) {
      val p = plan(name)
      assert(p.contains("BroadcastExchange"), s"$name: bench grams must broadcast\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must stay equi-join shaped\n$p")
    }
  }

  test("q194: HTML extraction is a pure narrow projection — no join, no " +
      "aggregation, the final global sort is the only exchange") {
    val p = plan("q194_html_extract")
    assert(!p.contains("Join"), s"extraction must not join\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"extraction must not aggregate\n$p")
    // formatted explain prints each operator once in the tree ("Exchange (8)")
    // and once in the details ("(8) Exchange") — count tree entries only
    assert(p.sliding("Exchange (".length).count(_ == "Exchange (") <= 1,
      s"only the declared ORDER BY exchange allowed\n$p")
  }

  test("q205: WARC ingest reads through the connector and stays narrow — " +
      "no join, no aggregation, the declared ORDER BY is the only exchange") {
    val p = plan("q205_warc_ingest")
    assert(p.contains("warc-records") || p.contains("BatchScan"),
      s"expected the DSv2 WARC scan in the plan\n$p")
    assert(!p.contains("Join"), s"container ingest must not join\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"container ingest must not aggregate\n$p")
    assert(p.sliding("Exchange (".length).count(_ == "Exchange (") <= 1,
      s"only the declared ORDER BY exchange allowed\n$p")
  }

  test("q206: the declared incremental-view plan reads the committed derived " +
      "table back — churn work happened at commit time, not in this plan") {
    val p = plan("q206_incremental_view")
    assert(!p.contains("Join"), s"the read-back must not re-join\n$p")
    assert(p.sliding("Exchange (".length).count(_ == "Exchange (") <= 1,
      s"only the declared ORDER BY exchange allowed\n$p")
  }

  test("q169: the bucket packing runs on the group-keyed prefix sum's range " +
      "exchange — no single-partition window") {
    val p = plan("q169_length_batching")
    assert(p.contains("rangepartitioning"), s"expected the prefix-sum range exchange\n$p")
    assert(!p.contains("SinglePartition"), s"no single-partition funnel allowed\n$p")
  }

  test("brute pair stage (q63's) runs the index kernel, not a nested loop") {
    // q63's own returned plan starts AFTER the eager CC loop (its input
    // is the final labels localCheckpoint), so assert on the pair stage
    // it is built from
    val pairs = graft.operators.Dedup.ngramJaccardPairsBrute(
      graft.sources.Tables(spark, sfDir, "documents"), "doc_id", "text",
      n = 2, theta = 0.3)
    val p = pairs.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // pairs are counted by the kernel, never merged in a join condition
    assert(!p.matches("(?s).*Join condition:[^\\n]*jaccard_sorted.*"), p)
    // no exchange: the shingle pass ran (and was collected) while the
    // frame was built, and the kernel's counted pairs are scored by
    // narrow maps. An AQE subplan prints both a Final and an Initial view
    // of the same exchange, so drop the "Initial Plan" rendering before
    // counting
    val dedup = p.split("== Initial Plan ==").head
    val exchanges = """(?<!Broadcast)Exchange \(\d+\)""".r.findAllIn(dedup).size
    assert(exchanges === 0, s"expected no exchange, got $exchanges\n$p")
  }

  test("q70: chunking is scan -> narrow ops -> one final sort (no join, no agg)") {
    val p = plan("q70_doc_chunking")
    // two exchanges allowed: the CPU-rebalance repartition and the final
    // ORDER BY range exchange — anything more means a shuffle crept in
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected rebalance + ORDER BY exchanges only, got $exchanges\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the chunk-index explode
  }

  test("q73: stream-twin attribution join broadcasts nothing oversized and " +
      "keeps the interval as a join-level condition") {
    val p = plan("q73_attribution_outer")
    assert(p.contains("Join") && p.contains("LeftOuter"), p)
  }

  test("q79: semantic-dedup pair stage is a bucket equi-join, centroids " +
      "broadcast, never a cartesian product") {
    val p = plan("q79_semantic_dedup")
    // the |V|×|C| assignment scoring is the broadcast nested-loop by
    // design (centroids are tiny); the within-cluster PAIR join must be
    // hash/sort-merge on cent_id — a CartesianProduct here is the
    // all-pairs blowup the clustering exists to prevent
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || """BroadcastHashJoin""".r.findAllIn(p).nonEmpty, p)
    // q79's CC stage truncates lineage (localCheckpoint), so the pair
    // join itself is asserted on q37 — the same nearDupPairs code path,
    // un-checkpointed: bucket equi-join, no cartesian
    val p37 = plan("q37_embed_neardup")
    assert(!p37.contains("CartesianProduct") && !p37.contains("BroadcastNestedLoopJoin"), p37)
    assert(p37.contains("SortMergeJoin") || p37.contains("ShuffledHashJoin")
      || p37.contains("BroadcastHashJoin"), p37)
  }

  test("q79b production path: centroid count scales as ceil(N/target) and the " +
      "pair stage stays a cent_id equi-join at every derived count") {
    // the production entry derives c = ceil(N / targetClusterSize) — the
    // SemDeDup rule that holds per-vector pair fanout constant as the
    // corpus grows. Assert the derivation is honored end-to-end: the
    // assignment's distinct cent_id count equals the derived c (coarse
    // fit permitting: k-means can only MERGE seeds, never exceed c).
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val n = emb.filter(graft.functions.VectorFunctions
      .norm(org.apache.spark.sql.functions.col("embedding")) > 0).count()
    for (target <- Seq(n, (n + 3) / 4)) {
      val out = graft.operators.Similarity.semanticDedupKMeansScaled(
        emb, "vec_id", "embedding", targetClusterSize = target, theta = 0.3)
      val expectC = (n + target - 1) / target
      val gotC = out.select("cent_id").distinct().count()
      assert(gotC <= expectC && gotC >= 1,
        s"target=$target: derived c=$expectC but assignment used $gotC clusters")
      val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"),
        s"pair stage degenerated to a cartesian at c=$expectC:\n$p")
    }
  }

  test("q80: span sharing is an equi-join on the span hash — never a " +
      "cartesian/NLJ, and the exchange key is the 8-byte hash") {
    val p = plan("q80_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    // the join keys on xxhash64 output, not the span text
    assert(p.contains("xxhash64"), p)
  }

  test("q81: split assignment is narrow — exactly one exchange (the " +
      "summary groupBy), no join anywhere") {
    val p = plan("q81_split_assign")
    assert(!p.contains("Join"), p)
    // one shuffle for the partial/final agg + the presentation sort's
    // range exchange; nothing else (the md5 bucketing itself is a map).
    // Count tree nodes ("Exchange (n)") — the details section repeats
    // each node as "(n) Exchange"
    val exchanges = """Exchange \(\d+\)""".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (agg + order-by), got $exchanges\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q82/q83: the salted plans actually key the exchange/join on the " +
      "salt — the hot key spreads instead of funneling one reducer") {
    // the internal salt column must appear in the physical plan (partial
    // aggregate keys for q82, join keys for q83); if a refactor drops
    // the salt silently, the query stays correct but the skew shield is
    // gone — this catches that
    assert(plan("q82_salted_agg").contains("__graft_salt"))
    assert(plan("q83_salted_join").contains("__graft_salt"))
  }

  test("q115: point-in-time join is a hash EQUI-join on the key — the " +
      "interval predicate must stay a post-match filter, never demote " +
      "the join to a nested loop") {
    val p = plan("q115_scd2_pit")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("user_id"), p)
  }

  test("q117: classifier scoring stage has no key exchange — no explode, " +
      "no per-feature aggregation shuffle (cpuBound's small-input " +
      "round-robin rebalance is the only exchange allowed)") {
    // strip the declared query's ORDER BY: the operator itself must not
    // cost a key shuffle; the entry's orderBy is presentation only
    // Raw variant: the public method's checkpoint barrier would hide
    // the scoring plan behind a LogicalRDD and make this assert vacuous
    val df = graft.operators.QualityClassifier.hashedBigramScoreRaw(
      graft.sources.Tables(spark, sfDir, "documents"), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Generate"), p)
  }

  test("q84: tf's exchange is computed once and REUSED by the terms and " +
      "avgdl branches — the corpus is tokenized exactly once at runtime") {
    // static explain under AQE shows three tokenize branches; the reuse
    // only materializes during execution (stage-level canonical-plan
    // matching), so assert on the executed plan after an action
    val df = SparkEntry.queries("q84_bm25")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 2, p)
  }
}
