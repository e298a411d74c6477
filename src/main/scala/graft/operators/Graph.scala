package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph scoring over a co-occurrence graph — the
  * link-graph-derived quality signal of large-corpus curation (page
  * importance over a web graph is a standard document-quality feature
  * when filtering crawl data; the reference side of this is the
  * entity-relationship scoring in tasks.py:105-563, which weights
  * taxonomy entities by co-occurrence strength).
  *
  * PageRank here is DETERMINISTIC BY CONSTRUCTION: rank mass is an
  * int64 scaled by 10^12, every update is integer floor-division and
  * an order-independent integer sum, so the result is bit-identical
  * under any partitioning — the same quantize/reduce-in-integers
  * recipe as the q32 kmeans, and what makes the DuckDB oracle replay
  * the iterations exactly (float PageRank diverges across engines in
  * the last ulps and is unhashable).
  *
  * Scale shape: the graph is held as ADJACENCY LISTS (node,
  * neighbors[]) built in one groupBy — multi-edge dedup rides that
  * same shuffle via array_distinct, the degree is size(neighbors)
  * for free, and the cached graph is node-sized rows instead of an
  * edge-sized table. Each iteration is a node-keyed join + a
  * map-side explode + a partially-aggregated groupBy on dst — the
  * canonical distributed PageRank step. Nothing corpus-sized reaches
  * the driver (the only scalar is the node count).
  */
object Graph {

  /** Rank mass scale: ranks are int64 fractions of 10^12. */
  val RankScale = 1000000000000L

  /** Lineage-truncation cadence for pagerank: checkpoint the node-rank
    * state (and delete the dead rounds' shuffle files) every this many
    * iterations. */
  val TruncateEvery = 2

  /** Raw co-purchase pairs: parts linked when they appear in the same
    * order, both directions, NOT deduplicated (pagerank's adjacency
    * build dedups on its own shuffle — a separate distinct pass would
    * pay one more edge-sized exchange for nothing). Bounded fan-out:
    * an order has at most a handful of lines, so the per-order pair
    * expansion is O(lines^2) with a small constant — never a hot-key
    * hazard.
    *
    * Shape: ONE groupBy on the order key gathers each order's part
    * set (map-side combinable, bounded arrays by schema contract),
    * then the pair expansion is a per-row double explode — no
    * self-join, no second pass over the fact table; lineitem is
    * scanned exactly once (at 100 TB the scan is the bill). */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"),
        explode(expr("filter(parts, p -> p != src)")).as("dst"))
  }

  /** Deduplicated co-purchase edge set — the public (src, dst) view
    * of the graph for edge-level consumers and the symmetry spec. */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    copurchasePairs(spark, dir).distinct()

  /** copurchasePairs re-derived as a CO-PARTITIONED SELF-JOIN — the
    * q53 feed since round 13, multiset-identical to copurchasePairs
    * (GraphSpec proves it exactly) but free of the object-aggregate
    * tax that made the old derivation 72 % of q53's sf100 wall:
    *
    *  - the old shape ran collect_set over every lineitem row (an
    *    ObjectHashAggregate that falls back to SORT-BASED aggregation
    *    past 128 keys per partition — so the whole fact table went
    *    through a per-row object-buffer sort) and then a double
    *    explode over the materialized arrays. Measured at sf10, that
    *    object-agg + explode front half was ~35 s of the 56 s build;
    *  - here lineitem's (orderkey, partkey) projection DISTINCTs once
    *    (a codegen HashAggregate over two primitives — cheap, and it
    *    also bounds the within-order duplicate-part blowup a raw
    *    line-level self-join would square), exchanges ONCE by
    *    orderkey (ReusedExchange serves both join sides), and the
    *    per-order pair expansion is the join itself — whole-stage
    *    codegen end to end, no object buffers anywhere. Measured at
    *    sf10: adjacency build 56 s → 21 s, same arrays out.
    *
    * Per-order set semantics are IDENTICAL to copurchasePairs: the
    * distinct projection is exactly the order's part set, and the
    * pk != pk' join enumerates each ordered pair once per order. */
  def copurchasePairsJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }

  /** Integer PageRank over (src, dst) edges (multi-edges collapse),
    * `iters` fixed iterations, damping 0.85 expressed as exact
    * integer arithmetic:
    *
    *   per      = RankScale div n
    *   rank_0   = per
    *   rank_t+1 = (15 * per) div 100
    *              + (85 * sum_{u->v} (rank_t(u) div outdeg(u))) div 100
    *
    * Every node in the (symmetric) edge set has outdeg >= 1, so there
    * are no dangling nodes; the damped leak (floor losses + the
    * undistributed 15% remainder) is the standard simplified-PageRank
    * contract and identical in any engine. Overflow audit: total rank
    * mass <= RankScale = 10^12, so 85 * sum <= 8.5e13 << 2^63.
    *
    * The graph caches as adjacency rows for the duration of the
    * computation (the node-count job materializes it); the final
    * node-sized state is truncated with localCheckpoint and the cache
    * RELEASED — no immortal persist escapes this function. The join
    * chain is truncated every `TruncateEvery` iterations
    * (node-rank-sized localCheckpoint, previous truncation released as
    * the next lands), so `iters` may be raised freely without
    * unbounded plan growth. Each truncation also deterministically
    * DELETES the shuffle files its now-dead rounds wrote
    * (Bridge.removeShuffles) — proved-dead shuffles otherwise linger
    * until the driver GCs the plan objects, and at sf100 two retained
    * dead rounds (~10 GB each) plus the build shuffle exceeded the
    * local-disk budget while the live working set fit easily.
    *
    * Cluster note: set `spark.graft.checkpointDir` to a durable path
    * and the truncations become reliable checkpoints (Dataset
    * .checkpoint) instead of localCheckpoint — localCheckpoint blocks
    * (and the eagerly-deleted shuffles backing them) cannot survive
    * executor loss, so on a multi-executor cluster the durable dir is
    * the fault-tolerant configuration; results are bit-identical
    * either way (integer ranks). */
  def pagerank(edges: DataFrame, iters: Int,
      narrowIds: Boolean = false): DataFrame = {
    val session = edges.sparkSession
    import org.apache.spark.sql.graftbridge.Bridge
    // shuffles alive before this operator ran: never touched
    val baseline = Bridge.shuffleIds(session)
    // ITERLOG (SPARK_GRAFT_ITERLOG=1; stderr; a few lines per query):
    // per materialization segment — wall since the last line, the
    // delta of sweep-BLOCKED wall (Bridge.SweepStats), disk headroom.
    // This is the split that attributes an iterative run's wall to
    // waiting-on-dead-file-deletion vs compute (the q53 sf100
    // 28x-for-10x attribution question, VERDICT r10 item 5).
    val iterLog = sys.env.get("SPARK_GRAFT_ITERLOG").contains("1")
    var segT0 = System.nanoTime()
    var segBlocked0 = Bridge.SweepStats.blockedNanos.get()
    def logSegment(tag: String): Unit = if (iterLog) {
      val wall = (System.nanoTime() - segT0) / 1e9
      val blocked =
        (Bridge.SweepStats.blockedNanos.get() - segBlocked0) / 1e9
      System.err.println(
        f"ITERLOG pagerank $tag%s wall=$wall%.1fs sweepBlocked=$blocked%.1fs diskFreeGb=${Bridge.shuffleDirFreeGb(session)}%d")
      segT0 = System.nanoTime()
      segBlocked0 = Bridge.SweepStats.blockedNanos.get()
    }
    // durable-checkpoint knob (cluster configuration; see scaladoc)
    val ckDir = session.conf.get("spark.graft.checkpointDir", "")
    if (ckDir.nonEmpty &&
        session.sparkContext.getCheckpointDir.isEmpty)
      session.sparkContext.setCheckpointDir(ckDir)
    def truncate(df: DataFrame): DataFrame =
      if (ckDir.nonEmpty) df.checkpoint() else df.localCheckpoint()
    // NARROW-ID gate (the q87 discipline): when the caller certifies
    // every node id fits in 32 bits — q53 checks the part DIMENSION's
    // key bounds, one metadata-sized scan, instead of re-running the
    // edge pipeline for a min/max — the adjacency arrays, the build
    // shuffle, and each iteration's contribution shuffle all carry
    // ints: half the cached bytes (the arrays are the edge-sized
    // payload) and half the per-iteration explode+shuffle volume.
    // The cast is CHECKED row-by-row (raise_error, not a silent
    // non-ANSI wrap), so a wrong certificate fails loudly. Ranks stay
    // int64 either way — ids are labels, the arithmetic is identical,
    // and the output casts back to long (GraphSpec replays both
    // branches bit-identical).
    def asId(c: org.apache.spark.sql.Column) =
      if (narrowIds)
        when(c.between(Int.MinValue.toLong, Int.MaxValue.toLong), c.cast("int"))
          .otherwise(raise_error(concat(
            lit("pagerank narrowIds certificate violated by id "), c.cast("string"))))
      else c
    // one shuffle builds adjacency + dedup + degree together; skew
    // note: a node's neighbor array is bounded by the node count of
    // its connected component's frontier — for real power-law graphs
    // cap/sample neighbor lists upstream
    val adj = edges.groupBy(asId(col("src")).as("src"))
      .agg(array_distinct(collect_list(asId(col("dst")))).as("nbrs"))
      .select(col("src").as("node"), col("nbrs"),
        size(col("nbrs")).cast("long").as("outdeg"))
      .persist()
    // node count: the one driver-side scalar (an aggregate, not
    // data); also forces the cache
    val n = adj.count()
    require(n > 0, "pagerank needs a non-empty edge set")
    // the adjacency-build shuffles (the edge-sized pair exchange — the
    // single largest disk item of the whole computation). In LOCAL
    // mode the fully-materialized cache can't lose blocks short of JVM
    // death, so they are dead the moment count() lands and are deleted
    // now; on a cluster they stay until the cache is released (block
    // loss would recompute through them).
    val buildIds = Bridge.shuffleIds(session) -- baseline
    val protectedIds =
      if (session.sparkContext.isLocal) {
        // adaptive sweep, not an unconditional blocking delete: with
        // disk headroom the deletion queues asynchronously (the same
        // policy as the per-truncation sweeps); under pressure it
        // still blocks until the build shuffle — the largest single
        // disk item of the whole computation — is actually gone
        Bridge.sweepShuffles(session, buildIds); baseline
      } else baseline ++ buildIds
    logSegment("adjacency-build")
    // delete every shuffle this operator created that is not protected
    // — called only at points where all prior rounds are materialized
    // into checkpoint blocks (sweepShuffles unregisters synchronously
    // and blocks on file deletion only under real disk pressure, so
    // repeated sweeps are naturally incremental and small-sf rounds
    // don't pay the per-id confirmation round-trip)
    def sweepDeadShuffles(): Unit =
      Bridge.sweepShuffles(session,
        Bridge.shuffleIds(session) -- protectedIds)
    val per = RankScale / n
    val base = 15L * per / 100L
    // the state CARRIES its adjacency (node, nbrs, outdeg, rank):
    // the send step explodes straight from the state, so each
    // iteration is ONE node-keyed join (reattach the new rank to the
    // cached adjacency) + one partially-aggregated groupBy — not the
    // two joins of the (node, rank)-only formulation, which had to
    // join adj a second time just to find the neighbor lists
    var state = adj.withColumn("rank", lit(per))
    // PLAN-GROWTH + SHUFFLE-DISK GUARD: each un-materialized iteration
    // appends a join+agg to the logical plan (unbounded: analysis-time
    // blow-up) AND keeps every prior round's contribution-shuffle
    // files referenced through the lineage — at sf100 one round's
    // shuffle is ~10 GB, and three retained rounds plus the adjacency
    // build put the bench past ENOSPC while the LIVE working set fit
    // easily. Truncate the lineage every `TruncateEvery` rounds — the
    // node-sized (node, rank) state is cheap to materialize — so at
    // most TruncateEvery rounds' shuffle files are ever alive: each
    // truncation releases the previous checkpoint AND deletes the
    // now-dead rounds' shuffle files on the spot (sweepDeadShuffles —
    // waiting for GC-driven cleanup left ~49 GB of proved-dead files
    // on disk mid-query at sf100). Integer ranks make the truncated
    // and unbroken chains bit-identical (the iters = 10 replay spec
    // runs through multiple truncations).
    var prevTrunc: Option[DataFrame] = None
    for (i <- 1 to iters) {
      state = prRound(adj, state, base)
      if (i % TruncateEvery == 0 && i < iters) {
        // carry only (node, rank); re-attach the cached adjacency so
        // the checkpointed frame is node-rank-sized, not array-sized
        val slim = truncate(
          state.select(col("node").as("ck_node"), col("rank")))
        prevTrunc.foreach(p =>
          org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(p))
        prevTrunc = Some(slim)
        sweepDeadShuffles()
        logSegment(s"trunc@$i")
        state = adj.join(slim, col("node") === col("ck_node"))
          .select(col("node"), col("nbrs"), col("outdeg"), col("rank"))
      }
    }
    // node-sized: drop the arrays, one cheap materialization so the
    // cache can drop; ids widen back to long at the boundary so the
    // narrow encoding never leaks into a caller's schema
    val out = truncate(state.select(col("node").cast("long").as("node"),
        col("outdeg"), col("rank")))
    prevTrunc.foreach(p =>
      org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(p))
    adj.unpersist()
    // the cache is gone: every shuffle since function entry (including
    // the build shuffles a cluster run kept) is now unreachable
    Bridge.removeShuffles(session, Bridge.shuffleIds(session) -- baseline)
    logSegment("final-rounds")
    out
  }

  /** One PageRank round: the contribution explode + partially
    * aggregated groupBy, then the rank reattachment. SHUFFLE_HASH on
    * the node-sized inc side: both sides are already hash-partitioned
    * on the node key (adj from its build groupBy, inc from the
    * contribution groupBy), so the join is exchange-free either way —
    * but a sort-merge join would SORT adj's array-carrying rows every
    * iteration (the arrays are the edge-sized payload; at sf100 that
    * is ~2.4B longs through the sorter per round). Hash-building the
    * skinny inc rows streams the arrays untouched. Package-private so
    * the plan-shape guard can inspect one un-materialized round. */
  private[graft] def prRound(adj: DataFrame, state: DataFrame,
      base: Long): DataFrame = {
    val inc = state
      .select(explode(col("nbrs")).as("dst"), expr("rank div outdeg").as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).as("inc"))
    adj
      .join(inc.hint("SHUFFLE_HASH"), col("node") === col("dst"), "left")
      .select(col("node"), col("nbrs"), col("outdeg"),
        (lit(base) + expr("(85 * coalesce(inc, 0L)) div 100")).as("rank"))
  }

  /** Top 20 parts by co-purchase PageRank after 3 iterations —
    * deterministic total order (rank DESC, part ASC), int64 ranks.
    * The bounded result is materialized on the driver so pagerank's
    * node-sized state checkpoint can be released immediately (q87's
    * hygiene discipline) instead of outliving the query. */
  def q53Pagerank(spark: SparkSession, dir: String): DataFrame = {
    // narrow-id certificate from the part DIMENSION (node ids are
    // partkeys, referentially intact by schema contract): one
    // metadata-cheap min/max instead of a pass over the edge stream.
    // pagerank still row-checks the cast, so a violated certificate
    // fails loudly rather than wrapping.
    val b = Tables.part(spark, dir)
      .agg(min(col("p_partkey")).as("lo"), max(col("p_partkey")).as("hi")).head()
    val narrow = !b.isNullAt(0) &&
      b.getLong(0) >= Int.MinValue.toLong && b.getLong(1) <= Int.MaxValue.toLong
    // r13: feed the self-join pair derivation — multiset-identical to
    // copurchasePairs (GraphSpec) but object-aggregate-free, which was
    // 72 % of the sf100 wall (958 s of 1331 s, ITERLOG-attributed;
    // measured at sf10: adjacency-build segment 56 s → 21 s).
    val pr = pagerank(copurchasePairsJoin(spark, dir), iters = 3,
      narrowIds = narrow)
    val top = pr
      .select(col("node").as("part_key"), col("outdeg").as("out_degree"),
        col("rank"))
      .orderBy(col("rank").desc, col("part_key").asc)
      .limit(20)
    val rows = top.collect()
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(pr)
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), top.schema)
  }

  /** Triangle counting over the co-purchase graph — the clustering/
    * community-density signal next to q53's centrality (triangle
    * participation separates genuinely clustered products from
    * high-degree hubs; ratio to C(deg,2) is the local clustering
    * coefficient). Output: the 20 parts in the most triangles.
    *
    * Spark-first shape is the ADJACENCY-INTERSECTION edge iterator
    * (the array twin of q53's adjacency-list discipline, and the
    * form that beat a wedge-row formulation 16s → ~4s at sf0.1
    * here): each undirected edge orients from its lexicographically
    * smaller (degree, id) endpoint — carried degree columns, NO
    * global rank window — bounding every "higher neighbors" list by
    * ~sqrt(E) (compact-forward). Those lists aggregate to NODE-sized
    * adjacency rows; each oriented edge (s, d) then intersects
    * adj(s) ∩ adj(d) in one codegen'd merge of the two packed lists,
    * which names
    * every triangle exactly once (at its minimum-(deg, id) vertex:
    * the closing vertex w sits in both higher-lists). Shuffle volume
    * is the edge table + the adjacency table — wedge ROWS never
    * materialize, which is what kills the naive formulation on
    * dense graphs. The oracle enumerates by id-orientation with a
    * 3-way join instead — different algorithm, provably the same
    * triangle set, so the per-node counts hash-match while each
    * engine keeps its natural plan. */
  /** Undirected (u < v) deduplicated co-purchase edges, derived
    * without the both-directions detour: per-order part sets sort
    * once, the i<j pair expansion yields each edge already oriented
    * u < v, and ONE groupBy dedups (half the rows and one less
    * exchange than distinct-ing copurchasePairs — measured 8.6s →
    * ~1s at sf0.1, which was most of q87's cost). */
  def undirectedEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        """CASE WHEN size(parts) >= 2 THEN
             flatten(transform(sequence(1, size(parts) - 1),
               i -> transform(sequence(i + 1, size(parts)),
                 j -> struct(element_at(parts, i) AS u, element_at(parts, j) AS v))))
           ELSE CAST(array() AS array<struct<u: bigint, v: bigint>>) END""")).as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v")).agg(count(lit(1)).as("support"))
      .select(col("u"), col("v"))

  def q87Triangles(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, checkpoints) = q87RankedPlan(spark, dir)
    // materialize the bounded (20-row) result on the driver, then
    // release the three localCheckpoint block sets — they'd otherwise
    // linger in the block manager until GC/ContextCleaner. Rank is
    // derived from the returned order (TakeOrdered is total-ordered).
    val rows = ranked.collect().zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), i + 1)
    }
    val schema = org.apache.spark.sql.types.StructType(ranked.schema.fields :+
      org.apache.spark.sql.types.StructField(
        "tri_rank", org.apache.spark.sql.types.IntegerType, nullable = false))
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(checkpoints: _*)
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
  }

  /** Adjacency-broadcast budget (edges), derived from the JVM heap
    * instead of a constant (r13; guide §2 "scale-adaptive, not a
    * constant tuned for one mode"). Anchors, both MEASURED on this
    * corpus family:
    *  - heap/512 reproduces the long-proven 16M-edge budget at the 8 GB
    *    dev/test JVM (where a 128M-edge broadcast was measured to
    *    starve the adjacency build's execution memory —
    *    AGGREGATE_OUT_OF_MEMORY — when TWO endpoint joins each held
    *    a copy of the relation next to the running aggregate; one
    *    endpoint join holds it now);
    *  - at the scale gates' 80 GB JVM the budget opens to ~156M edges,
    *    which admits sf10's 120M-edge graph: the two resident
    *    relations of that measurement cost ~2-3 GB of an 80 GB heap
    *    while removing the
    *    E^1.5 attached-array shuffle that dominates the shuffle-form
    *    wall (same-VM A/B: sf1 130 s shuffled vs 32 s broadcast; sf10
    *    at 80 GB, 620 s shuffled vs 375 s broadcast — the sf10 ratio
    *    is smaller because the broadcast build itself pays a 120M-edge
    *    collect and the intersect CPU is branch-invariant).
    * The 256M-edge hard cap (measured on int-array lists: ~1 GB of
    * entries, ~2-3 GB resident per join; the packed lists now broadcast
    * are smaller) bounds the worst case on very large heaps — past it the
    * shuffled equi-joins remain the formulation that holds at any
    * scale (sf100's ~1.2B edges stay shuffled at every realistic
    * heap). */
  def defaultMaxBroadcastEdges: Long =
    math.min(Runtime.getRuntime.maxMemory() / 512L, 256L * 1024 * 1024)

  /** The distributed plan behind q87 (pre-materialization), plus the
    * checkpointed intermediates the caller must release once the
    * bounded result is collected. Exposed for the plan-shape guards.
    *
    * maxBroadcastEdges gates HOW adj(d) reaches each edge (adj(s)
    * arrives with it: the edges are exploded out of the higher-lists).
    * The adjacency table is edge-count entries in total (each oriented
    * edge appears in exactly one higher-list), so up to the budget it
    * broadcasts and the endpoint join becomes a broadcast-hash probe
    * of one resident map — no shuffle carries an edge row with a
    * neighbor list attached. That attached-list volume is the real
    * cost of the shuffle form: sum over edges of |adj(s)|+|adj(d)| =
    * sum of squared higher-degrees, ~50x the edge table at sf1
    * (measured: the intersect stage fell 115 s -> 8 s at 12M edges).
    * Past the budget the equi-join shuffles — the formulation that
    * holds at any scale. The default budget is heap-derived (see
    * defaultMaxBroadcastEdges) so the same binary picks broadcast on a
    * gate-sized JVM and shuffle on a small one; both branches produce
    * bit-identical credits (integer counts over the identical
    * triangle set — GraphSpec). */
  private[graft] def q87RankedPlan(
      spark: SparkSession, dir: String,
      maxBroadcastEdges: Long = defaultMaxBroadcastEdges): (DataFrame, Seq[DataFrame]) = {
    // edge-sized but skinny (2 longs/row); checkpointed because three
    // consumers (degree, orientation, and the final readout join)
    // would otherwise each re-derive the edge pipeline from the scan
    val und = undirectedEdges(spark, dir).localCheckpoint()
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint() // node-sized; reused by orient + readout
    val lowFirst = col("deg_u") < col("deg_v") ||
      (col("deg_u") === col("deg_v") && col("u") < col("v"))
    // deg is node-dimension-sized and checkpointed (no stats) — hint
    // the broadcast the planner can no longer infer
    val oriented = und
      .join(broadcast(deg.select(col("node").as("u"), col("degree").as("deg_u"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("degree").as("deg_v"))), "v")
      .select(
        when(lowFirst, col("u")).otherwise(col("v")).as("s"),
        when(lowFirst, col("v")).otherwise(col("u")).as("d"))
    import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression => exprOf}
    // edge count is free on the checkpointed frame; the gate decides
    // broadcast vs shuffle for the endpoint join
    val bcast = und.count() <= maxBroadcastEdges
    // ADJACENCY ENCODING (one for both branches): each neighbor list —
    // the join's dominant payload, sum-of-squared-higher-degrees
    // entries in total (the algorithm's E^1.5 volume) — is
    // DELTA-VARINT PACKED into a binary column (measured 1.68 B/entry
    // on the sf1 graph vs 8 B per bigint array element), and the
    // intersect kernel merges the two packed streams directly. On the
    // shuffle branch that cuts the bytes riding the endpoint join's
    // exchange; on the broadcast branch it shrinks the resident
    // relation. The encoding does not depend on the id width, so ids
    // past 2^32 take the same path (GraphSpec runs an offset corpus).
    // node-sized rows; each list is <= ~sqrt(E) long (compact-forward)
    val adjHi = oriented.groupBy(col("s").as("node"))
      .agg(sort_array(collect_list(col("d"))).as("higher"))
      .select(col("node"), col("higher"),
        exprCol(graft.functions.PackSorted(exprOf(col("higher")))).as("nbrs"))
      // read by the edge explode and the endpoint join; the plain
      // lists (8 B/entry) cost half the (s, d) edge checkpoint they replace
      .localCheckpoint()
    // every oriented edge (s, d) sits in exactly one higher-list, so
    // exploding adj(s) yields the edges with adj(s) already attached —
    // only adj(d) needs a join
    val adjD = adjHi.select(col("node").as("d"), col("nbrs").as("nbrs_d"))
    val triEdges = adjHi
      .select(col("node").as("s"), col("nbrs").as("nbrs_s"),
        explode(col("higher")).as("d"))
      .join(if (bcast) broadcast(adjD) else adjD, "d")
      .select(col("s"), col("d"),
        exprCol(graft.functions.PackedIntersect(
          exprOf(col("nbrs_s")), exprOf(col("nbrs_d")))).as("common"))
    // credit all three corners — s and d once per closing vertex, w
    // once — in a SINGLE pass: one struct array per edge, exploded.
    // The union-of-three-selects form re-evaluated the joins and the
    // intersect once per branch (no CSE across union branches;
    // measured 3x the intersect cost at sf1). Edges that close no
    // triangle credit 0 and drop AFTER the explode: a
    // `size(common) > 0` filter on the edge is pushed into the join
    // condition, which evaluates the intersect a second time for
    // every closing edge.
    val credits = triEdges
      .select(explode(concat(
        array(
          struct(col("s").as("node"), size(col("common")).cast("long").as("c")),
          struct(col("d").as("node"), size(col("common")).cast("long").as("c"))),
        transform(col("common"), w => struct(w.as("node"), lit(1L).as("c")))))
        .as("nc"))
      .select(col("nc.node").as("node"), col("nc.c").as("c"))
      .filter(col("c") > 0)
    // TakeOrdered (orderBy+limit), not a partition-less row_number
    // window: the q53 shape. The window form stayed cheap only while
    // WindowGroupLimit pruned per-partition — a property a formulation
    // change could silently lose, reintroducing a single-partition sort
    // of every node. Rank is derived from the returned order.
    val ranked = credits.groupBy(col("node")).agg(sum(col("c")).as("triangles"))
      .join(broadcast(deg), "node")
      .select(col("node").as("part_key"), col("triangles"), col("degree"))
      .orderBy(col("triangles").desc, col("part_key").asc)
      .limit(20)
    (ranked, Seq(und, deg, adjHi))
  }
}
