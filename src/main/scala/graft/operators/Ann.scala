package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
import graft.functions.{FloatVecCosine, HyperplaneBuckets, NearestCellsInt}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the dense embedding column
  * (SURVEY.md §2 #24-25, #30).
  *
  * Vector math runs in custom codegen Expressions (FloatVecCosine,
  * HyperplaneBuckets — graft.functions.VectorKernels): primitive
  * double loops instead of interpreted higher-order functions, with
  * the same left-fold accumulation order as the SQL formulation, so
  * scores stay bit-identical to the DuckDB oracle.
  *
  * Scale design: probes are a small set → broadcast; the corpus is
  * scanned exactly once (brute force) or pruned to LSH buckets (q25);
  * near-dup pairing (q30) is blocked so the corpus×corpus cartesian
  * never forms.
  */
object Ann {

  private def cosine(a: Column, b: Column): Column =
    exprCol(FloatVecCosine(expression(a), expression(b)))

  /** (cosine DESC, neighbor_id ASC) — total over the payload, so
    * ord-equivalence == "same pair via another table" in
    * TopKDistinctAgg. Built by REVERSING the total order, never by
    * negating the key: -cosine maps NaN to NaN (which TotalOrdering
    * would sort LAST, silently dropping a zero-norm-embedding
    * candidate that Spark's `desc` ranks FIRST) and swaps the
    * -0.0/0.0 signed zeros. reverse puts NaN first — the same place
    * Spark's descending sort puts it. Pinned by AnnOrderingSpec
    * (VERDICT r11: the corpus has no zero-norm embeddings, so only a
    * unit spec can catch a regression to the negate-the-key form). */
  private[graft] val cosineDescIdAsc: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  /** Brute-force exact cosine top-k: probes (vec_id % 50 == 0)
    * broadcast against one corpus scan — the baseline every ANN method
    * is judged against. */
  def q24AnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
    val probes = emb.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("p_emb"), col("embedding")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Random-hyperplane LSH: L=8 tables × 8 bits, bucket codes from the
    * HyperplaneBuckets kernel (deterministic hyperplanes — no stored
    * model). Candidates = bucket collisions in any table; ranked by
    * exact cosine within candidates.
    *
    * Scale shape (rebuilt in r10 after the first formulation filled
    * the disk at sf100): the bucket space is FIXED (8×256 codes), so
    * bucket occupancy grows linearly with the corpus and the collision
    * join's output grows ~quadratically — 2M vectors → ~2.5 B
    * candidate rows, which the old `dropDuplicates` + window-sort pair
    * tried to materialize with BOTH 64-d payloads attached (~1.4 TB
    * of sort spill; ENOSPC). The pair stream is now never
    * materialized: the probe side (small by the every-50th-id
    * contract) is BROADCAST, so collisions stream out of one
    * corpus-side scan straight through the codegen cosine into a
    * per-probe TopKDistinctAgg partial aggregate — multi-table
    * duplicate collisions (identical (cosine, neighbor) payload by
    * construction) die inside the O(k) buffer, replacing the old
    * full-width dedup shuffle AND the window sort. The only exchange
    * left is the final ≤ k-rows-per-probe-per-partition merge.
    * Results are bit-identical to the committed formulation (same
    * candidates, same cosine expression, same (cosine DESC,
    * neighbor_id ASC) order); the unchanged oracle SQL re-proves it
    * at every gated scale factor. */
  def q25AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val nTables = 8
    val bitsPerTable = 8
    val emb = Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        posexplode(exprCol(HyperplaneBuckets(
          expression(col("embedding")), nTables, bitsPerTable))).as(Seq("tbl", "bucket")))
    // Broadcast-size bound: the probe side is every-50th-id × nTables
    // rows of one 64-float payload each — ~2% of the corpus × 8 ≈
    // 160 MB per 10M vectors. Linear in the corpus BY THE BENCH
    // CONTRACT, so sf100 (~320k rows) is comfortably inside Spark's
    // 8 GB broadcast ceiling but a further 10× step is not: large-sf
    // runs pin graft.Probes.cap (the sf100 gate uses 4000), which
    // bounds this broadcast to cap × nTables rows regardless of scale.
    val probes = emb.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("tbl"), col("bucket"))
    val topk = udaf(new graft.functions.TopKDistinctAgg[(Double, Long)](5,
      cosineDescIdAsc))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("tbl"), col("bucket"))
      .join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("p_emb"), col("embedding")))
      .groupBy(col("probe_id"))
      .agg(topk(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("t._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("t._1").as("cosine"))
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into kmeans
    * cells (assignment = nearest centroid, one codegen pass); each
    * probe searches its `probeCells` nearest cells with exact cosine.
    * Complements q25's LSH: IVF cells ADAPT to the data distribution
    * (tighter candidate sets on clustered data; k grows with N to
    * bound cell size), while LSH is data-oblivious. The trained
    * "model" is k*dim doubles — broadcast-sized by construction, so
    * the index adds no join: cell ids ride along as columns and
    * candidates come from a cell-equality join. */
  /** Corpus-derived IVF cell count — the q90 semDedupK discipline for
    * the coarse quantizer: expected cell size n/k ≤ targetCellSize at
    * every n (below 16·target the 16-cell floor already keeps cells
    * under target), so per-probe candidate work is probeCells·target =
    * O(1) rows regardless of corpus. 1250 ≈ the measured sweet spot on
    * the 64-d corpora (identical cells to the committed k=16 at every
    * fixture up to sf1 = 20k vectors, where 20000/1250 lands exactly on
    * 16); past sf1 cells grow with n and recall is held by tuning
    * probeCells, not by letting cells balloon. The oracle derives k
    * with the same formula (GREATEST(16, COUNT(*) // 1250)). */
  def ivfK(n: Long, targetCellSize: Int = 1250): Int =
    math.max(16L, n / targetCellSize).toInt

  def q45AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    annIvf(spark, dir, k = ivfK(n), iters = 5, probeCells = 6, topK = 5)
  }

  /** Run q45's one-off IVF training (through the deterministic
    * centroid memo) without serving a probe: Bench calls this before
    * the timing loop so the per-rep numbers read SERVE latency and the
    * train cost is an explicit build_sec field — the q88 split,
    * extended to the in-query-trained index (VERDICT r11 item 7: the
    * marginal/fixed fit proved q45's 97 s sf100 wall was the train). */
  def ensureQ45Trained(spark: SparkSession, dir: String): Unit = {
    val n = Tables.embeddings(spark, dir).count()
    Clustering.centroidsQuantized(spark, dir, ivfK(n), 5)
    ()
  }

  /** IVF over the DETERMINISTIC quantized kmeans cells: training,
    * cell assignment, and probe fan-out all run in exact integer
    * arithmetic (Clustering.centroidsQuantized + NearestCellsInt), so
    * the whole index — cells, candidates, and the bit-exact cosine
    * rerank — reproduces on any engine: the q45 oracle replays it in
    * DuckDB. Scores use the ORIGINAL float embeddings (quantization
    * only decides the partitioning, never the ranking). */
  def annIvf(spark: SparkSession, dir: String, k: Int, iters: Int,
      probeCells: Int, topK: Int): DataFrame = {
    val cents = Clustering.centroidsQuantized(spark, dir, k, iters)
    val emb = Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("q", Clustering.quantizedCol)
    // corpus side: each vector lives in exactly its nearest cell
    val corpus = emb.select(
      col("vec_id").as("neighbor_id"), col("embedding"),
      exprCol(NearestCellsInt(expression(col("q")), cents, 1))(0).as("cell"))
    // probe side: fan out to the probeCells nearest cells
    val probes = emb.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        explode(exprCol(NearestCellsInt(expression(col("q")), cents, probeCells)))
          .as("cell"))
    val scored = probes.join(corpus, "cell")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("p_emb"), col("embedding")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Product-quantization codebooks: m per-subspace code tables
    * trained by the same DETERMINISTIC quantized Lloyd's recipe as
    * Clustering.centroidsQuantized (exact int64 distances, ties →
    * lower code, integer floor-div centroid update, init = the k
    * lowest vec_ids' subvectors, fixed iterations) — run on all m
    * subspaces AT ONCE: each iteration is ONE corpus pass (PqCodesInt
    * assigns every subspace in a single codegen'd expression) and one
    * (m·k·dsub)-row reduction to the driver. The "model" is
    * m·k·(dim/m) = k·dim longs — broadcast-sized regardless of corpus
    * size, and bit-reproducible on any engine (the q82 oracle replays
    * the identical iterations in DuckDB). */
  def pqCodebooks(spark: SparkSession, dir: String, m: Int, k: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    import org.apache.spark.sql.graftbridge.Bridge.{column => exprColQ, expression => exprQ}
    val vecs = Clustering.quantizedVecs(spark, dir).persist()
    val initRows: Array[Array[Long]] = vecs
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("q").toArray)
    // Init needs exactly k seed vectors; a corpus smaller than k (or
    // empty) would otherwise surface as an opaque AIOOBE/NPE below.
    require(initRows.length == k,
      s"pqCodebooks: corpus has ${initRows.length} vectors, need >= k=$k to seed codebooks")
    val dim = initRows(0).length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    var cents: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      Array.tabulate(k)(c => initRows(c).slice(s * dsub, (s + 1) * dsub)))
    var it = 0
    while (it < iters) {
      val sums = vecs
        .withColumn("codes", exprColQ(graft.functions.PqCodesInt(exprQ(col("q")), cents)))
        .select(col("codes"), posexplode(col("q")).as(Seq("pos", "x")))
        .select(
          expr(s"pos div $dsub").cast("int").as("sub"),
          element_at(col("codes"), expr(s"pos div $dsub").cast("int") + 1).as("code"),
          expr(s"pos % $dsub").cast("int").as("j"),
          col("x"))
        .groupBy(col("sub"), col("code"), col("j"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("sub"))(r.getAs[Int]("code"))(r.getAs[Int]("j")) =
          Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
      }
      cents = next
      it += 1
    }
    vecs.unpersist(blocking = false)
    cents
  }

  /** Product-quantization ANN (the memory-bound half of a production
    * IVF-PQ index), in its standard two-stage shape:
    *
    *  1. ADC SCAN — the corpus compresses to m=8 code ids per vector
    *     (4 bits each here; 64 floats originally), each probe
    *     precomputes its m×k ADC distance table ONCE, and scoring a
    *     candidate is m table lookups + adds — no per-pair O(dim)
    *     loop. The scan keeps a per-probe SHORTLIST (top-300 by adc,
    *     neighbor asc).
    *  2. EXACT RERANK — only shortlist candidates fetch their full
    *     quantized vectors; exact int64 distances re-rank them and
    *     top-10 survive. Recall is then "is the true neighbor in the
    *     ADC shortlist" (0.99 measured on the near-random sf0.001
    *     corpus, 0.83 at sf0.1 — AnnSpec pins >= 0.8 at both scale
    *     factors; shortlist is the recall lever and 300 is ~6% of the
    *     sf0.1 corpus) rather than "does 32-bit-compressed ADC
    *     rank it exactly" (~0.2 — random data is PQ's worst case).
    *
    * Every distance is exact int64 on quantized vectors end-to-end,
    * so both stages' rankings are engine-exact and the whole query —
    * codebook training included — is oracle-checked, unlike typical
    * float-ADC implementations whose ranking drifts with accumulation
    * order.
    *
    * Scale: training is one scan per iteration reducing to k·dim
    * longs; the encode pass streams once; probes broadcast (small by
    * the q24 contract); the rerank fetch is |probes|·shortlist rows —
    * at 100 TB the ADC scan reads m·4 bits per row instead of the
    * raw vectors (the classic PQ bandwidth win), and only the
    * shortlist touches full vectors. */
  /** Corpus-derived ADC shortlist for the FLAT PQ scan: the rerank
    * budget is a corpus FRACTION (15%, floored at 300), because with
    * no IVF pruning the number of ADC near-ties that can crowd out a
    * true neighbor grows with n — measured: a fixed 300 is 15% of
    * sf0.1 (recall 0.83) but 1.5% of sf1 (recall 0.50); at 15% sf1
    * recalls 0.82. Identical to the committed 300 at every fixture up
    * to sf0.1. The IVF-PQ index (q88) needs NO such scaling: its
    * candidate pool is probeCells·targetCellSize = O(1) by ivfK
    * construction, so a fixed shortlist keeps a fixed fraction. */
  def pqShortlist(n: Long): Int = math.max(300L, n * 3 / 20).toInt

  def q82Pq(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    pqScan(spark, dir, m = 8, k = 16, iters = 3,
      shortlist = pqShortlist(n), topK = 10)
  }

  def pqScan(spark: SparkSession, dir: String, m: Int, k: Int, iters: Int,
      shortlist: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.{column => exprColQ, expression => exprQ}
    val cents = pqCodebooks(spark, dir, m, k, iters)
    val vecs = Clustering.quantizedVecs(spark, dir)
    val corpus = vecs
      .select(col("vec_id").as("neighbor_id"),
        exprColQ(graft.functions.PqCodesInt(exprQ(col("q")), cents)).as("codes"))
    val probes = vecs.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"),
        exprColQ(graft.functions.PqDistTableInt(exprQ(col("q")), cents)).as("dtab"))
    val adc = (0 until m).map(s =>
        element_at(col("dtab"), lit(s * k + 1) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val short = corpus.join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= shortlist)
      .select(col("probe_id"), col("neighbor_id"), col("adc_dist"))
    // exact rerank: only shortlist rows fetch full vectors
    val pq = vecs.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"))
    val nq = vecs.select(col("vec_id").as("neighbor_id"), col("q").as("nq"))
    val wExact = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    short
      .join(nq, "neighbor_id")
      .join(broadcast(pq), "probe_id")
      .withColumn("dist",
        exprColQ(graft.functions.IntVecSqDist(exprQ(col("pq")), exprQ(col("nq")))))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"), col("dist"))
  }

  /** q30: embedding-cosine near-duplicate pairs at cosine >= 0.3,
    * exact over all pairs (dedupEmbeddingDense).
    *
    * The threshold sits just above the 64-d random-pair background
    * (|cos| ~0.12; the test embeddings hold no planted high-cosine
    * pairs, max ~0.51), so 0.75–4.6% of ALL pairs qualify and the
    * output itself is Θ(n²): every correct engine is output-bound
    * quadratic here. Measured in round 7 (OPTIMIZATION_r13.md's q30
    * entry): hyperplane-LSH candidates at this threshold are a
    * constant ~0.855 of all pairs, so collision pruning removes
    * nothing and costs ~2× brute force in shuffled join rows. q90
    * (SemDeDup) is the library's subquadratic embedding dedup. */
  def q30DedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingDense(spark, dir, threshold = 0.3)

  /** Exact all-pairs near-dup via blocked dense cosine. Vectors are
    * grouped into G = ceil(n/1024) disjoint id-keyed blocks; the
    * G·(G+1)/2 block pairs form a tiny driver-free pair relation
    * (spark.range — no cartesian, no BNLJ) that equi-joins the block
    * table twice; each pair row then runs the BlockPairCosines
    * kernel: O(|A|·|B|·d) primitive flops, pairs emitted only above
    * threshold. Exactly the work a thresholded GEMM does — nothing is
    * shuffled per PAIR, only per block pair (total shuffle =
    * n·d·4·G/2 bytes = n²·d·2/B), and recall is 1.0 by construction.
    * Scale: at quadratic-output thresholds nothing subquadratic exists
    * (the answer itself is Θ(n²)); raise blockSize to trade shuffle
    * for task granularity — 8192 at n=2M keeps the block-pair shuffle
    * ~130 GB on a cluster while 2000 cells × 4 MB pair rows spread
    * over every executor. */
  def dedupEmbeddingDense(spark: SparkSession, dir: String,
      threshold: Double, blockSize: Int = 1024): DataFrame = {
    val vecs = Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val n = Tables.embeddings(spark, dir).count()
    val g = math.max(1L, (n + blockSize - 1) / blockSize)
    val blocks = vecs
      .groupBy((col("vec_id") % g).as("gid"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("blk"))
    val pairs = spark.range(g * g)
      .select((col("id") / g).cast("long").as("ga"),
        (col("id") % g).cast("long").as("gb"))
      .filter(col("ga") <= col("gb"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    pairs
      .join(blocks.select(col("gid").as("ga"), col("blk").as("blka")), "ga")
      .join(blocks.select(col("gid").as("gb"), col("blk").as("blkb")), "gb")
      .select(explode(exprCol(graft.functions.BlockPairCosines(
        expression(col("blka")), expression(col("blkb")), threshold))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.cosine").as("cosine"))
  }

  /** q90: SEMANTIC dedup in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means, then
    * prune within clusters only — a vector is pruned when a
    * LOWER-id cluster-mate sits above the cosine threshold (the
    * deterministic keep-one rule; SemDeDup keeps the one farthest from
    * the centroid — id order makes the choice engine-replayable).
    * Output = the per-cluster dedup report: size, pruned, kept, prune
    * rate in bp.
    *
    * This is the third dedup geometry next to q30 (exact all pairs)
    * and q21 (MinHash bands): MinHash prunes by data-OBLIVIOUS
    * hashes, SemDeDup by the corpus's own density structure — on real
    * embedding corpora the cluster restriction is what makes
    * quadratic-free semantic dedup possible at scale: the total cell
    * count grows with N (semDedupK below — k = max(16, n/250)) so the
    * EXPECTED cell size never exceeds 250 and the within-cell pair
    * join stays a cell-keyed equi-join generating O(n·250) candidates
    * — linear in corpus, never corpus×corpus. The quantizer carving
    * those cells is TWO-LEVEL (sqrt(k) supers, then sub-codebooks
    * within — Clustering.twoLevelQuantizer), so training/assignment
    * is ~n·sqrt(k)·dim per pass instead of flat Lloyd's quadratic
    * n·k·dim; every step stays integer-deterministic, so clustering,
    * candidates, and the bit-exact cosine verify all replay in DuckDB
    * (the twoLevelCtes chain with the SAME n-derived k1/tgt
    * expressions) — an oracle over the ENTIRE train-assign-prune
    * lifecycle, valid at every scale factor. */
  /** Corpus-size-derived SemDeDup cluster count: expected cell size
    * n/k ≤ targetCellSize for EVERY n (k = max(16, n/target) — below
    * 16·target the 16-cell floor already keeps cells under target), so
    * within-cell candidate pairs grow O(n·target/2): linear in corpus,
    * the property AnnSpec pins. Centroids stay driver-metadata-sized:
    * even n = 10¹⁰ gives k = 4·10⁷ × 64 longs — at that scale raise
    * targetCellSize or shard the quantizer, but the formula's contract
    * (bounded cells, linear candidates) is what matters here. */
  def semDedupK(n: Long, targetCellSize: Int = 250): Int =
    math.max(16L, n / targetCellSize).toInt

  /** Quantizer regime gate for q90: below this corpus size the FLAT
    * quantized Lloyd's trains the cell carve (its n·k·d pass is cheap
    * when k = max(16, n/250) is small, and one chain beats two); at or
    * above it the TWO-LEVEL quantizer takes over (flat's pass is
    * n²·d/250 — quadratic in corpus, 494 s of the sf100 bench). The
    * DuckDB oracle replays the SAME count-derived branch (each chain's
    * source CTE is emptied by the opposite predicate), so both regimes
    * stay oracle-exact at every scale factor. */
  val TwoLevelMinVectors = 50000L

  def q90SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // corpus-derived quantizer: the count() is a parquet-metadata read
    // (no data pass). Regime gate (TwoLevelMinVectors): flat Lloyd's
    // carves the cells below 50k vectors, the two-level quantizer
    // (Clustering.twoLevelQuantizer — sqrt(k) supers then sub-
    // codebooks, ~n·sqrt(k)·d per pass) above. Either way EVERY
    // expected cell size stays ≤ 250, so within-cell pairs are
    // O(n·250) — linear. The whole train-assign-prune lifecycle is
    // integer-deterministic and replayed by the DuckDB oracle (both
    // regime chains, the offsets, the bit-exact cosine verify).
    val n = Tables.embeddings(spark, dir).count()
    q90SemanticDedupImpl(spark, dir, n, twoLevel = n >= TwoLevelMinVectors)
  }

  /** q90 with the quantizer regime forced — package-private so the
    * spec suite exercises BOTH branches on the fixture corpus (the
    * public gate would pick flat there); the sf10/sf100 gates prove
    * the two-level branch against the oracle at its natural sizes. */
  private[graft] def q90SemanticDedupImpl(spark: SparkSession, dir: String,
      n: Long, twoLevel: Boolean): DataFrame = {
    val threshold = 0.25
    val cellOf: Column =
      if (!twoLevel) {
        val cents = Clustering.centroidsQuantized(
          spark, dir, k = semDedupK(n), iters = 5)
        exprCol(NearestCellsInt(expression(col("q")), cents, 1))(0)
      } else {
        val model = Clustering.twoLevelQuantizer(
          spark, dir, n, target = 250, iters = 5)
        Clustering.twoLevelCellCol(col("q"), model)
      }
    val emb = Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("q", Clustering.quantizedCol)
      .select(col("vec_id"), col("embedding"), cellOf.as("cell"))
    // within-cell candidate pairs: each side carries its vector
    // through the single cell-keyed exchange (n rows of ~600 B — the
    // only data the join SORTS), so the O(n·250) pair stream flows
    // straight through the codegen cosine filter without ever being
    // materialized, shuffled, or sorted AS pairs. An earlier shape
    // joined ids-only pairs back to the vectors — at sf100 (2 M
    // vectors, ~250 M candidate pairs) the fetch re-join sorted the
    // pair stream with a 512 B embedding payload attached (~130 GB)
    // and exhausted local disk; sorting n rows instead of n·250 is
    // the difference between 1 GB and 130 GB at that scale.
    val byCell = emb.select(col("cell"), col("vec_id"), col("embedding"))
      .repartition(col("cell")) // one exchange, reused by both join sides
    val pruned = byCell.as("a")
      .join(byCell.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("is_pruned", lit(1L))
    emb.select(col("cell"), col("vec_id"))
      .join(pruned, Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("is_pruned")), lit(0L)).as("pruned"))
      .select(col("cell").cast("long").as("cell"), col("n"), col("pruned"),
        (col("n") - col("pruned")).as("kept"),
        expr("pruned * 10000 div n").as("prune_bp"))
  }
}
