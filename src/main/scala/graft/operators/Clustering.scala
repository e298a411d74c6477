package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
import graft.functions.{NearestCentroidInt, NearestSubCentroidInt}
import graft.sources.Tables

/** KMeans clustering over the embedding column — the reference runs
  * sklearn KMeans on its taxonomy feature matrix (tasks.py:472-478),
  * single-node. Here: DETERMINISTIC quantized Lloyd's iterations as
  * DataFrame jobs — the assignment step is a codegen'd
  * NearestCentroidInt expression over one corpus scan; the update step
  * reduces per-dimension integer sums to the driver (k*dim longs —
  * metadata-sized, the same reduction shape MLlib uses). First-k init,
  * lower-id tie-breaks, fixed iteration count.
  */
object Clustering {

  /** Cluster summary — sizes, rms within-cluster distance, and mean
    * simplified silhouette (b - a)/max(a, b) with a = distance to own
    * centroid, b = distance to nearest OTHER centroid — the
    * distributed stand-in for the reference's silhouette_score
    * (tasks.py:477-478); exact silhouette is O(N^2) and driver-bound.
    * Runs on the quantized assignment: its sq_dist / sq_dist2 carry
    * a^2 and b^2 in quantized units, the silhouette ratio does not
    * depend on that scale, and rms_dist divides it back out. */
  def kmeansSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val a = sqrt(col("sq_dist"))
    val b = sqrt(col("sq_dist2"))
    kmeansQuantized(spark, dir, k = 10, iters = 5)
      .withColumn("sil", (b - a) / greatest(a, b))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        (sqrt(avg(col("sq_dist"))) / QuantScale).as("rms_dist"),
        avg(col("sil")).as("silhouette"))
  }

  /** Quantization scale: 2^24 — float mantissas are 24 bits, so
    * x * 2^24 is EXACT in double for the unit-range embeddings and
    * floor() of it is engine-identical; coordinates land under ~2^25,
    * keeping every per-row squared distance under ~2^56 (exact in
    * int64 for both engines). The int64 envelope holds while
    * coordinates stay within |x| ~2^5 at 64 dims; the embedding corpus
    * is unit-range. */
  val QuantScale = 16777216.0

  /** Embedding column quantized to integers: floor(x * 2^24). */
  val quantizedCol: Column =
    transform(col("embedding"), x =>
      floor(x.cast("double") * lit(QuantScale)).cast("long"))

  /** DETERMINISTIC quantized KMeans — Lloyd's iterations where every
    * cross-row reduction is exact integer arithmetic, so the result
    * is bit-identical run-to-run, partition-order-free, and
    * engine-reproducible (the DuckDB oracle replays the identical
    * iterations):
    *
    *  - coordinates quantize to floor(x * 2^24) (exact — see
    *    QuantScale);
    *  - assignment distances are int64 sums (NearestCentroidInt), the
    *    argmin has no float tie ambiguity, ties break to the lower
    *    cluster id;
    *  - centroid update is SUM(int) / COUNT via floor division — an
    *    order-independent integer mean, where a float sum would drift
    *    with partition order (THE reproducibility hazard of
    *    distributed kmeans at scale); empty clusters keep their
    *    previous centroid;
    *  - init = the k lowest vec_ids, iteration count fixed.
    *
    * This is how a 100 TB pipeline makes clustering reproducible:
    * quantize, reduce in integers, derive float metrics only from the
    * exact aggregates. */
  def kmeansQuantized(spark: SparkSession, dir: String, k: Int, iters: Int): DataFrame = {
    val vecs = quantizedVecs(spark, dir).persist()
    val cents = centroidsQuantizedOf(vecs, k, iters)
    val result = vecs.withColumn("asg",
        exprCol(NearestCentroidInt(expression(col("q")), cents)))
      .select(col("vec_id"), col("q"),
        col("asg.cluster").as("cluster"),
        col("asg.sq_dist").as("sq_dist"), col("asg.sq_dist2").as("sq_dist2"))
      .localCheckpoint()
    vecs.unpersist(blocking = false)
    result
  }

  /** The quantized "model" alone: k x dim integer centroids —
    * broadcast-sized, engine-reproducible (what the deterministic IVF
    * index probes against).
    *
    * Memoized per (session, dir, k, iters): training is DETERMINISTIC
    * (exact integer Lloyd's — same centroids from the same corpus,
    * every time), so the memo is result-transparent by construction —
    * it changes WHEN the training scan runs, never what any caller
    * computes. This is the build-once/serve-many split for the
    * in-query-trained IVF (q45): Bench times the one-off train as
    * build_sec and the per-rep medians read serve latency (r11's
    * marginal/fixed split measured q45's sf100 wall as ~97 s of
    * training + per-probe cost below noise — the train WAS the
    * number). Stored in the WEAK per-session store
    * (Sessions.sessionMemo, r13): a fresh session re-trains — the
    * standing invalidation granularity for on-disk corpus changes —
    * and a dropped session's models are collectable with it. */
  def centroidsQuantized(spark: SparkSession, dir: String, k: Int,
      iters: Int): Array[Array[Long]] =
    graft.Sessions.sessionMemo(spark, ("centroids", dir, k, iters)) {
      val vecs = quantizedVecs(spark, dir).persist()
      val cents = centroidsQuantizedOf(vecs, k, iters)
      vecs.unpersist(blocking = false)
      cents
    }

  /** (vec_id, q) frame of quantized embeddings. */
  def quantizedVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), quantizedCol.as("q"))

  private def centroidsQuantizedOf(vecs: DataFrame, k: Int,
      iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = vecs
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("q").toArray)
    var it = 0
    while (it < iters) {
      val sums = vecs.withColumn("asg",
          exprCol(NearestCentroidInt(expression(col("q")), cents)))
        .select(col("asg.cluster").as("cluster"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) =
          Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Trained two-level coarse quantizer: per-super codebooks plus the
    * dense cell-id offsets (cell = offsets(super) + sub). Supers the
    * final level-1 assignment left empty carry an empty codebook and
    * contribute no cell ids. */
  final case class TwoLevelQuantizer(
      superCents: Array[Array[Long]],
      subCents: Array[Array[Array[Long]]],
      offsets: Array[Long]) {
    def totalCells: Long = subCents.map(_.length.toLong).sum
  }

  /** Super-cell count for a total-cell target k: the integer ceiling
    * of sqrt(k). floor(sqrt) on a double is exact for k < 2^52 (IEEE
    * sqrt is correctly rounded, and a correctly-rounded sqrt of an
    * integer can't cross an integer boundary), so both engines derive
    * the identical k1. */
  def ceilSqrt(k: Long): Int = {
    val t = math.floor(math.sqrt(k.toDouble)).toLong
    (if (t * t >= k) t else t + 1).toInt
  }

  /** Per-sub-cell expected-size bound for the two-level quantizer:
    * min(target, ceil(n / minCells)) — at large n this is `target`
    * (cells stay bounded), while below minCells*target it shrinks so
    * the quantizer still carves ~minCells cells out of a small corpus
    * (reproducing the flat formula's 16-cell floor as a derived
    * property instead of a special case). */
  def twoLevelTarget(n: Long, target: Int, minCells: Int = 16): Long =
    math.max(1L, math.min(target.toLong, (n + minCells - 1) / minCells))

  /** DETERMINISTIC two-level coarse quantizer — the sub-quadratic
    * successor to training one flat k = n/target quantizer (q90's
    * documented scale ceiling: flat Lloyd's assignment is n*k*dim =
    * n²*dim/target MACs per iteration — 494 s of the sf100 bench was
    * exactly this term):
    *
    *  1. train k1 = ceil(sqrt(max(16, n/target))) SUPER-centroids with
    *     the flat quantized Lloyd's (n*k1*dim per iteration);
    *  2. assign every vector to its final super-cell;
    *  3. within each super-cell c of n_c vectors, train
    *     k2_c = ceil(n_c / tgt) sub-centroids (tgt = twoLevelTarget) —
    *     all supers train SIMULTANEOUSLY as one grouped Lloyd's pass
    *     per iteration (NearestSubCentroidInt scores only the row's
    *     own super codebook), so an iteration costs sum_c n_c*k2_c*dim
    *     ≈ n*sqrt(k)*dim on balanced supers — ~sqrt(k)/2 of them, 40×
    *     fewer MACs at sf100, and the DuckDB replay gets the same
    *     factor (the level-2 argmin joins on the super id instead of
    *     crossing the full codebook).
    *
    * The per-cell contract is STRONGER than the flat formula's: EVERY
    * super-cell's expected sub-cell size is ≤ tgt by construction
    * (k2_c derives from n_c itself), where flat k only bounded the
    * global expectation. Determinism is the kmeansQuantized recipe
    * end-to-end: first-k init by vec_id at both levels, exact int64
    * argmin with lower-index tie-breaks, floor-division updates,
    * empty-cell carry-over — every step replayed by the oracle.
    * Driver-side state is centroid/metadata-sized only: k1*dim longs,
    * sum_c k2_c * dim ≈ (n/target)*dim longs per update round — at
    * n = 10^10 shard the level-2 update by super instead. */
  /** Ceiling on the rows each level-2 update round may collect to the
    * driver: (Σ_c k2_c) · dim ≈ (n/target) · dim aggregate rows per
    * iteration. 2^26 (~67M rows, ~1.6 GB of driver heap transient) is
    * roughly n = 2.6·10^8 vectors at the default target/dim — two
    * orders past the sf100 corpus. The guard makes the documented
    * limit SELF-ENFORCING (the q54 pattern): past it the constructor
    * fails fast and names the mitigation instead of silently melting
    * the driver. */
  val MaxDriverUpdateRows: Long = 1L << 26

  def twoLevelQuantizer(spark: SparkSession, dir: String, n: Long,
      target: Int = 250, iters: Int = 5,
      maxDriverUpdateRows: Long = MaxDriverUpdateRows): TwoLevelQuantizer = {
    val k1 = ceilSqrt(math.max(16L, n / target))
    val tgt = twoLevelTarget(n, target)
    val vecs = quantizedVecs(spark, dir).persist()
    val superCents = centroidsQuantizedOf(vecs, k1, iters)
    // FINAL level-1 assignment (training's last argmin is one behind)
    val vs = vecs.withColumn("asg",
        exprCol(NearestCentroidInt(expression(col("q")), superCents)))
      .select(col("vec_id"), col("q"), col("asg.cluster").as("super"))
      .persist()
    val counts = new Array[Long](k1)
    vs.groupBy(col("super")).agg(count(lit(1)).as("n_c")).collect()
      .foreach(r => counts(r.getAs[Int]("super")) = r.getAs[Long]("n_c"))
    vecs.unpersist(blocking = false)
    val k2 = counts.map(nc => if (nc == 0) 0 else ((nc + tgt - 1) / tgt).toInt)
    // driver-update bound (see MaxDriverUpdateRows): every level-2
    // round collects ≤ (Σ_c k2_c)·dim aggregate rows — fail fast with
    // the mitigation rather than discover the limit as a driver OOM
    val dim = superCents.headOption.map(_.length.toLong).getOrElse(64L)
    val updateRows = k2.map(_.toLong).sum * dim
    require(updateRows <= maxDriverUpdateRows,
      s"twoLevelQuantizer level-2 update would collect $updateRows " +
      s"aggregate rows per round to the driver (budget " +
      s"$maxDriverUpdateRows). At this corpus size shard the level-2 " +
      "update by super (aggregate per-super partitions and merge " +
      "centroid deltas distributively) or raise `target`.")
    // level-2 init: the k2_c lowest vec_ids within each super-cell
    // (one n-row window sort; the filtered result is cell-count-sized)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("super")).orderBy(col("vec_id"))
    var subCents: Array[Array[Array[Long]]] = {
      val init = k2.map(c => new Array[Array[Long]](c))
      vs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= element_at(typedLit(k2.toSeq), col("super") + 1))
        .select(col("super"), col("rn"), col("q")).collect()
        .foreach { r =>
          init(r.getAs[Int]("super"))(r.getAs[Int]("rn") - 1) =
            r.getAs[scala.collection.Seq[Long]]("q").toArray
        }
      init
    }
    var it = 0
    while (it < iters) {
      val sums = vs.withColumn("sub",
          exprCol(NearestSubCentroidInt(
            expression(col("q")), expression(col("super")), subCents)))
        .select(col("super"), col("sub"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("super"), col("sub"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = subCents.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("super"))(r.getAs[Int]("sub"))(r.getAs[Int]("pos")) =
          Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
      }
      subCents = next
      it += 1
    }
    vs.unpersist(blocking = false)
    val offsets = k2.scanLeft(0L)(_ + _).dropRight(1)
    TwoLevelQuantizer(superCents, subCents, offsets)
  }

  /** Final cell-id column for a trained two-level quantizer, over a
    * quantized column `q`: offsets(super) + nearest-sub-of-super. The
    * super argmin is re-evaluated for the offset lookup — k1*dim
    * integer ops, noise next to the scan. */
  def twoLevelCellCol(q: Column, model: TwoLevelQuantizer): Column = {
    val superId = exprCol(NearestCentroidInt(
      expression(q), model.superCents)).getField("cluster")
    element_at(typedLit(model.offsets.toSeq), superId + 1) +
      exprCol(NearestSubCentroidInt(
        expression(q), expression(superId), model.subCents)).cast("long")
  }

  /** q32 gate query: deterministic quantized kmeans, k=10, 5
    * iterations. Per-cluster metrics derive ONLY from exact integer
    * aggregates (decimal sums of int64 distances), then one fixed
    * sequence of double ops both engines execute identically:
    * rms_dist in real (un-quantized) units, separation =
    * rms-to-second-nearest over rms-to-own (>1 = well separated —
    * the aggregate-exact stand-in for the per-row silhouette, which
    * would need an order-dependent float mean; kmeansSilhouette
    * keeps the reference-shaped per-row version). */
  def q32Kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansQuantized(spark, dir, k = 10, iters = 5)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("sq_dist").cast("decimal(38,0)")).as("ssq"),
        sum(col("sq_dist2").cast("decimal(38,0)")).as("ssq2"))
      .select(col("cluster"), col("n"),
        (sqrt(col("ssq").cast("double") / col("n")) / QuantScale).as("rms_dist"),
        sqrt(col("ssq2").cast("double") / col("ssq").cast("double"))
          .as("separation"))
}
