package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Plan-shape regression guards: these properties are what make the
  * operators viable at 100 TB — losing one silently (an optimizer
  * behavior change, a refactor breaking pushdown) matters more than a
  * local perf delta, so they are asserted, not just audited. */
class PlanQualitySpec extends AnyFunSuite with SparkFixture {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q01: date filter reaches the parquet scan; schema pruned") {
    val p = plan("q01_agg_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("q02: all four dimension joins broadcast; PROMO filter pushed") {
    val p = plan("q02_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 4)
    assert(p.contains("EqualTo(p_type,PROMO)"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: global top-N compiles to TakeOrderedAndProject") {
    val p = plan("q03_topn_order")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.matches("(?s).*\\bSort\\b.*")) // no global sort operator
  }

  test("q04: top-N per group runs as a partial aggregate, not a full-sort window") {
    val p = plan("q04_window_topn")
    assert(!p.matches("(?s).*\\bWindow\\b.*"),
      "default q04 must not shuffle every row through a window sort")
    assert("ObjectHashAggregate".r.findAllIn(p).length === 2,
      "map-side partial top-k + final merge")
  }

  test("q54: per-doc top-k runs as a partial aggregate, not a window sort") {
    val p = plan("q54_tfidf")
    assert(!p.matches("(?s).*\\bWindow\\b.*"),
      "tf-idf top terms must use the mergeable TopKAgg, not a window")
  }

  test("q13: the date spine joins without shuffling the fact rollup twice") {
    val p = plan("q13_date_intervals")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q21: self-join reuses the signature exchange; no cartesian") {
    // AQE resolves exchange reuse at runtime: execute, then inspect
    // the final adaptive plan
    val df = graft.SparkEntry.queries("q21_dedup_minhash")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "the band self-join must reuse the signature pipeline's exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("q22: chunk self-join reuses the signature exchange; no cartesian") {
    val df = graft.SparkEntry.queries("q22_dedup_simhash")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "the chunk self-join must reuse the signature pipeline's exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("q24: probes broadcast against a single corpus scan") {
    val p = plan("q24_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q17: adaptive gate picks the dense kernel on a broadcast-sized dictionary") {
    val p = plan("q17_cosine_topk")
    assert(p.contains("floatmat_cosines"),
      "broadcast-sized vocab must take the dense matrix-kernel path")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin")
      && !p.contains("CartesianProduct"),
      "pair scoring must come from the kernel explode, not any join")
    assert(p.contains("WindowGroupLimit"),
      "per-partition top-k must prune the pair stream before the shuffle")
  }

  test("q17: over-limit dictionary falls back to the postings join") {
    val p = Similarity.cosineTopKAdaptive(spark, sfDir, 5, maxVocab = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the fallback must not score all probe x doc pairs")
    assert(!p.contains("CartesianProduct"))
  }

  test("q17: over-budget probe matrix falls back to the postings join") {
    // vocab fits but the probe matrix would not: the dense kernel (a
    // driver-resident FloatMatCosines literal) must not appear
    val p = Similarity.cosineTopKAdaptive(spark, sfDir, 5, maxProbeFloats = 1L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("floatmat_cosines"),
      "an over-budget probe set must not ride to the driver as a matrix literal")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q36: ROLLUP compiles to a single Expand pass, not a union of aggregates") {
    val p = plan("q36_rollup")
    assert("Expand".r.findAllIn(p).length === 1)
    assert(!p.contains("Union"))
  }

  test("q43: stratified sample is one scan with two-phase aggregation") {
    val p = plan("q43_stratified_sample")
    assert("Scan parquet".r.findAllIn(p).length === 1, "one pass over the corpus")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      "partial agg map-side, one shuffle on the grouping key")
  }

  test("q44: small benchmark side broadcasts AT RUNTIME (AQE), no forced hint") {
    // no broadcast() hint in the code: AQE must pick the broadcast
    // join from the measured size of the benchmark side, so an
    // over-threshold benchmark would degrade to a shuffle join
    // instead of a guaranteed OOM
    val df = graft.SparkEntry.queries("q44_contamination")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "AQE should broadcast the (small) benchmark postings at runtime")
    assert(!p.contains("CartesianProduct"))
  }

  test("q45: IVF candidates come from a cell equi-join, not a cross join") {
    val p = plan("q45_ann_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q46/q47: per-row text passes have no shuffle at all") {
    Seq("q46_pii_redact", "q47_repetition").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be a pure map over the scan")
      assert("Scan parquet".r.findAllIn(p).length === 1)
    }
  }

  test("q30: blocked-dense path pairs via equi-joined range, never a cartesian") {
    val df = graft.SparkEntry.queries("q30_dedup_embedding")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "block pairs must come from the range relation via equi-joins")
    assert(p.contains("block_pair_cosines"),
      "the dense kernel must be in the plan")
    assert(p.contains("Range"), "block-pair relation must be a Range, not a collected list")
  }

  test("q69: pacing is one conditional-aggregation scan, no window, no month self-join") {
    val p = plan("q69_pacing")
    assert(!p.matches("(?s).*\\bWindow\\b.*"))
    assert("Scan parquet".r.findAllIn(p).length === 2,
      "one fact scan for the groups + one for the broadcast anchor row")
    assert(!p.contains("SortMergeJoin"), "the anchor frame must broadcast")
  }

  test("q70: ignore list and metadata broadcast; traffic aggregates once") {
    val p = plan("q70_refresh_select")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "anti-join and metadata join must both broadcast")
    assert(!p.contains("SortMergeJoin"))
    // one aggregate pair (partial+final) over events — no re-shuffle after
    assert("HashAggregate".r.findAllIn(p).length <= 4)
  }

  test("q72: score join is postings-keyed; quartile frame broadcasts") {
    val p = plan("q72_corpus_rarity")
    assert(!p.contains("CartesianProduct"))
    assert(!p.matches("(?s).*\\bWindow\\b.*"),
      "bucketing must come from the broadcast quartile frame, not a rank window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row total/quartile frames must broadcast")
  }

  test("q65: first-k per user is a partial aggregate, not an event-wide window") {
    val p = plan("q65_session_paths")
    assert(!p.matches("(?s).*\\bWindow\\b.*"),
      "row_number() <= 3 would shuffle and sort every event")
    assert("ObjectHashAggregate".r.findAllIn(p).length === 2,
      "map-side partial top-k + final merge")
    assert(!p.contains("SortMergeJoin"), "the 1-row denominator must broadcast")
  }

  test("q66: carry-forward windows partition by group on the dense series") {
    val p = plan("q66_gap_fill")
    assert(p.contains("windowspecdefinition(priority"),
      "LOCF must run per group on the calendar-bounded dense frame")
    assert("\\bWindow\\b".r.findAllIn(p).length === 1)
    assert(!p.contains("SortMergeJoin"), "span and calendar frames broadcast")
  }

  test("q68: readout reduces to aggregates only — no window, no join shuffle") {
    val p = plan("q68_experiment")
    assert(!p.matches("(?s).*\\bWindow\\b.*"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      "per-user pre-aggregate then one conditional aggregate — no join at all")
    assert("Scan parquet".r.findAllIn(p).length === 1, "one fact scan")
  }

  test("q75: chunking is a pure map over the scan — no shuffle at all") {
    val p = plan("q75_chunking")
    assert(!p.contains("Exchange"), "chunk windows are per-row expressions")
    assert("Scan parquet".r.findAllIn(p).length === 1)
  }

  test("q78: stacked step windows share one session exchange; no joins") {
    val p = plan("q78_session_funnel")
    assert(!p.contains("Join"), "steps are window columns, not joined frames")
    assert("Exchange".r.findAllIn(p).length <= 3,
      "user window + session window + 1-row final aggregate only")
  }

  test("q73: batch-index screens are equi-joins, never batch x index") {
    val p = plan("q73_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from hash/band equality joins only")
  }

  test("q74: corpus window is sharded; offsets and budget broadcast") {
    val p = plan("q74_token_budget")
    assert(p.contains("windowspecdefinition(tier"),
      "the corpus prefix-sum window must partition by (tier, subshard)")
    assert(p.contains("BroadcastHashJoin"), "shard offsets must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for a join — only by shard for its window")
  }

  test("q79: containment candidates come from the postings equi-join") {
    val df = graft.SparkEntry.queries("q79_containment")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "the postings self-join must reuse one shingling pass")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q80: the induced vocab broadcasts; the corpus never sorts globally") {
    val p = plan("q80_tokenize")
    assert(p.contains("BroadcastHashJoin"), "V-row vocab must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab selection must be TakeOrdered, not a global sort")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q82: PQ probe tables broadcast; rerank fetch is an equi-join") {
    val p = plan("q82_pq_ann")
    // ADC scan: probes (dtab) broadcast against the coded corpus via
    // the non-equi probe != neighbor condition — the q24 contract
    assert(p.contains("BroadcastNestedLoopJoin"))
    // rerank: shortlist ids fetch vectors through hash joins only
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q83: span candidates come from the positional postings equi-join") {
    val df = graft.SparkEntry.queries("q83_dup_span")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "the postings self-join must reuse one shingling pass")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q87: adjacency joins are equi-joins; wedge rows never materialize") {
    // the public q87 materializes + releases its checkpoints, returning
    // a LocalRelation — guard the shape on the distributed plan behind it
    val (ranked, cks) = Graph.q87RankedPlan(spark, sfDir)
    val p = ranked.queryExecution.executedPlan.toString
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(cks: _*)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the closing check is the per-edge packed intersect, not a join
    // against a wedge table
    assert(p.contains("packed_intersect"))
    // the intersect expression appears exactly once: the single-pass
    // credits explode must not re-evaluate the joins per corner (the
    // union-of-three-selects form did — 3x the intersect cost at sf1)
    assert(p.split("packed_intersect").length - 1 <= 2,
      "intersect evaluated once (plan may echo it in a Project alias)")
    // under the edge budget the endpoint join is a broadcast probe of
    // the node-sized adjacency — no neighbor ARRAY rides a shuffle
    assert(p.contains("BroadcastHashJoin"))
    // final ranking: TakeOrdered (rank derived from returned order) —
    // never a partition-less row_number window over every node
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.matches("(?s).*\\bWindow\\b.*"))
  }

  test("q87: past the broadcast budget the adjacency joins shuffle, same shape") {
    val (ranked, cks) = Graph.q87RankedPlan(spark, sfDir, maxBroadcastEdges = 0L)
    val p = ranked.queryExecution.executedPlan.toString
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(cks: _*)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // r14: the shuffle form carries DELTA-VARINT PACKED adjacency
    // (binary column) across the endpoint join's exchange and merges
    // the packed streams directly
    assert(p.contains("packed_intersect"))
    // the fallback must not silently re-broadcast a table the gate
    // judged too big: the endpoint join becomes a shuffled equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("gated repartition is a no-op when the scan is already parallel") {
    import org.apache.spark.sql.functions.col
    // already-parallel input: the helper must return the SAME frame —
    // no full-text exchange sneaks in on a production many-file table
    val parallel = spark.range(0, 1000).toDF("doc_id").repartition(8)
    assert(graft.sources.Tables.parallelized(parallel, col("doc_id")) eq parallel)
    // under-parallel (single-split test file shape): fan out (plan
    // check — AQE may coalesce the tiny test shuffle back down)
    val single = spark.range(0, 1000).toDF("doc_id").coalesce(1)
    val out = graft.sources.Tables.parallelized(single, col("doc_id"))
    assert(out.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
  }

  test("rank-filtered windows compile to WindowGroupLimit in the ANN family") {
    // Spark 4.x pushes a row_number() <= k filter into per-partition
    // top-k pruning (WindowGroupLimit) ahead of the window sort — the
    // property that keeps window top-k viable at scale, pinned here so
    // a formulation change can't silently fall back to full sorts
    Seq("q24_ann_bruteforce", "q45_ann_ivf", "q82_pq_ann").foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"),
        s"$q must prune per-partition before the window sort")
    }
    // q88 serves from the persisted artifact: building it is a side
    // effect, so construct the plan through the probe path directly
    val path = org.apache.spark.sql.graftbridge.Bridge.createTempDir("graft-q88-plan").toString
    graft.sources.IvfIndex.buildPq(spark, sfDir, path,
      k = 16, iters = 5, m = 8, pqK = 16, pqIters = 3)
    val probes = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    val p88 = graft.sources.IvfIndex
      .probePq(spark, path, probes, nProbeCells = 6, shortlist = 300, topK = 10)
      .queryExecution.executedPlan.toString
    assert(p88.contains("WindowGroupLimit"),
      "q88 must prune per-partition before the window sort")
  }

  test("q89: rewrite passes run on the vocab, not per occurrence") {
    val p = plan("q89_bpe_apply")
    // the 5 merge passes are literal-baked array expressions applied
    // AFTER a distinct (the vocab-sized frame); the occurrence stream
    // joins only the per-word token length back — exactly one join,
    // and never a nested-loop/cartesian one
    assert(p.matches("(?s).*Join.*"),
      "per-word BPE length must join back to the occurrence stream")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashAggregate"), "per-doc rollup is a partial aggregate")
    // the rewrite chain must sit above the vocab distinct: filter() on
    // syms (the merge-pass fingerprint) appears only downstream of the
    // distinct aggregate, so occurrences never pay the array kernels
    val firstFilterPass = p.indexOf("filter(sequence(1")
    assert(firstFilterPass >= 0, "merge passes present as array expressions")
  }

  test("q90: cell self-join reuses one exchange; no cartesian") {
    val df = graft.SparkEntry.queries("q90_semantic_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "both sides of the within-cell pair join must read one shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q53: rank reattachment hash-builds the node-sized side; adjacency never sorts") {
    // one un-materialized PageRank round over the real corpus's
    // adjacency shape: the reattachment join must be a shuffled hash
    // join (or a broadcast at tiny scale) — NEVER a sort-merge join,
    // whose per-iteration sort of the array-carrying side is the
    // O(E log n)-bytes cost the SHUFFLE_HASH hint exists to remove —
    // and must add no exchange beyond the two groupBys (both sides
    // are co-partitioned on the node key already).
    import org.apache.spark.sql.functions._
    val edges = Graph.copurchaseEdges(spark, sfDir)
    val adj = edges.groupBy(col("src"))
      .agg(array_distinct(collect_list(col("dst"))).as("nbrs"))
      .select(col("src").as("node"), col("nbrs"),
        size(col("nbrs")).cast("long").as("outdeg"))
    val state = adj.withColumn("rank", lit(1000000L))
    val plan = Graph.prRound(adj, state, 1L).queryExecution.sparkPlan
    val pstr = plan.toString
    assert(!pstr.contains("SortMergeJoin"),
      "rank reattachment must not sort the adjacency arrays")
    val shjs = plan.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shjs.nonEmpty, s"expected a shuffled hash join:\n$pstr")
    // co-partition property: walking down from the join, each side
    // reaches its groupBy's aggregate WITHOUT crossing an exchange —
    // the join reuses the partitioning both groupBys already paid for
    shjs.head.children.foreach { side =>
      var n: org.apache.spark.sql.execution.SparkPlan = side
      while (n.isInstanceOf[org.apache.spark.sql.execution.ProjectExec] ||
             n.isInstanceOf[org.apache.spark.sql.execution.FilterExec])
        n = n.children.head
      assert(!n.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec],
        s"exchange between the join and its side's aggregate:\n$pstr")
    }
  }

  test("q91: key profiles aggregate without windows or global sorts") {
    val p = plan("q91_skew_profile")
    assert(!p.matches("(?s).*\\bWindow\\b.*"),
      "the deterministic argmax must be max_by, not a ranking window")
    assert(!p.contains("CartesianProduct"))
  }

  test("q92: weights and totals broadcast; the corpus never sort-merge-joins") {
    val p = plan("q92_mixture_sample")
    assert(!p.contains("SortMergeJoin"),
      "domain weights are |domains| rows — every join must broadcast")
  }

  test("q93: lateness window is per-user partitioned, day rollup partial-aggregates") {
    val p = plan("q93_watermark_audit")
    assert(p.contains("Window"), "running max over arrival order")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "day rollup must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q94: shard window is sharded; offsets broadcast; no global sort") {
    val p = plan("q94_shard_manifest")
    assert(p.contains("windowspecdefinition(tier"),
      "the corpus prefix-sum window must partition by (tier, subshard)")
    assert(p.contains("BroadcastHashJoin"), "shard offsets must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for a join — only by shard for its window")
  }

  test("q95: novelty join is shingle-keyed; index side pre-aggregated") {
    val p = plan("q95_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "index distinct-shingle set and doc rollup must both map-side combine")
  }

  test("q97: query terms broadcast into the postings join; top-10 is the merge agg") {
    val p = plan("q97_bm25")
    assert(p.contains("BroadcastHashJoin"),
      "the 30-term query table must broadcast — postings prune before any shuffle")
    assert(p.contains("ObjectHashAggregate"),
      "per-query top-10 must be the mergeable TopKAgg, not a window sort")
    assert(!p.matches("(?s).*\\bWindow\\b.*"), "no global/window sort of scores")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q98: transition and batch joins are equi-joins; counts map-side combine") {
    val p = plan("q98_bigram_lm")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("HashAggregate".r.findAllIn(p).length >= 6,
      "c2, c1 and the per-doc readout must all partial-aggregate")
  }

  test("q99: each epoch is one partial-aggregated pass over the cached features") {
    // the query itself runs the epochs eagerly; assert the plan of one
    // epoch's aggregate instead: single-group agg over the feature
    // projection, no join, no shuffle of doc-sized rows beyond the
    // 1-row final merge
    val feats = graft.sources.Tables
      .documents(spark, sfDir)
      .selectExpr("size(split(text, ' ')) as x1", "n_chars div 100 as x2")
    val agg = feats.agg(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.col("x1") + org.apache.spark.sql.functions.col("x2")))
    val p = agg.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).length === 2,
      "map-side partial + 1-row final merge")
    assert(!p.contains("Join"))
  }
}
