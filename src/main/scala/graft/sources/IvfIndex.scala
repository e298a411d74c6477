package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
import graft.Sessions
import graft.functions.{IntVecSqDist, NearestCellsInt, PqCodesInt, PqDistTableInt}
import graft.operators.{Ann, Clustering}

/** Persisted IVF-PQ index — the production shape of ANN at 100 TB:
  * train the coarse quantizer and the PQ codebooks ONCE, write the
  * corpus as codes partitioned by cell, then serve probe queries
  * against the artifact without touching the training path again
  * (q45/q82 train in-query because the test corpus has no lifecycle;
  * q88 is the same index with a lifecycle).
  *
  * Layout:
  *  - `<path>/centroids` = k×dim integer centroid rows
  *    (broadcast-sized, engine-reproducible — the deterministic
  *    q32/q45 quantizer);
  *  - `<path>/codebooks` = (sub, code, cq) rows — m·pqK subvector
  *    centroids (operators/Ann.pqCodebooks), broadcast-sized;
  *  - `<path>/corpus_pq` = (vec_id, codes) PARTITIONED BY cell — m
  *    small ints per vector, NO raw vectors. A probe that fans out to
  *    `nProbeCells` cells reads exactly those directories: partition
  *    pruning does the candidate pruning at the FILESYSTEM level,
  *    which is the entire point of IVF on object storage, and the
  *    scan is ~64× narrower than the float corpus (PQ);
  *  - `<path>/vectors` = (vec_id, q) — the quantized vectors, read
  *    ONLY by the shortlist rerank fetch.
  * Everything is exact integer arithmetic end-to-end, so a rebuild on
  * any engine reproduces the identical artifact.
  */
object IvfIndex {

  /** The stored quantizer, cell-ordered. */
  def readCentroids(spark: SparkSession, path: String): Array[Array[Long]] =
    spark.read.parquet(s"$path/centroids").orderBy(col("cell")).collect()
      .map(_.getAs[scala.collection.Seq[Long]]("cq").toArray)

  /** Train the coarse quantizer (k cells) and the per-subspace PQ
    * codebooks, and write all four parts of the artifact. */
  def buildPq(spark: SparkSession, dir: String, path: String,
      k: Int, iters: Int, m: Int, pqK: Int, pqIters: Int): Unit = {
    import spark.implicits._
    val cents = Clustering.centroidsQuantized(spark, dir, k, iters)
    cents.zipWithIndex
      .map { case (cq, cell) => (cell, cq.toSeq) }.toSeq
      .toDF("cell", "cq")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val books = Ann.pqCodebooks(spark, dir, m, pqK, pqIters)
    books.zipWithIndex.flatMap { case (codes, sub) =>
      codes.zipWithIndex.map { case (cq, code) => (sub, code, cq.toSeq) }
    }.toSeq
      .toDF("sub", "code", "cq")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    val vecs = Clustering.quantizedVecs(spark, dir)
    vecs
      .withColumn("cell", exprCol(NearestCellsInt(expression(col("q")), cents, 1))(0))
      .withColumn("codes", exprCol(PqCodesInt(expression(col("q")), books)))
      .select(col("vec_id"), col("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/corpus_pq")
    vecs.write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** The stored PQ codebooks, (sub, code)-ordered. */
  def readCodebooks(spark: SparkSession, path: String): Array[Array[Array[Long]]] =
    spark.read.parquet(s"$path/codebooks")
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getAs[Int]("sub"),
        r.getAs[scala.collection.Seq[Long]]("cq").toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2)).toArray

  /** q88: the persisted IVF-PQ index as a driver-checked query — the
    * full production ANN lifecycle in one verifiable unit: build the
    * artifact (coarse quantizer + codebooks + cell-partitioned codes +
    * rerank vectors) into a scratch dir, then serve the standard probe
    * set (vec_id % 50 == 0) FROM THE ARTIFACT. Training and serving
    * are exact integer arithmetic end-to-end, so the DuckDB oracle
    * replays the entire lifecycle — quantizer training, PQ codebook
    * training, cell assignment, 6-cell probe fan-out, ADC shortlist
    * (serveShortlist — 15% of the constant candidate pool), exact
    * rerank top-10.
    *
    * The artifact is memoized per session (ensureQ88Built): a
    * session's first invocation builds, later ones serve the identical
    * artifact, and a fresh session rebuilds — the library's rule for
    * every trained model. Each build goes to its own uniquely named
    * `graft-ivfpq-q88-*` dir under java.io.tmpdir, deleted at JVM exit,
    * so no other session or process can name, overwrite or serve it
    * and it needs no commit protocol. This is the production split:
    * build once, serve many — Bench times the two phases separately
    * (build_sec vs the per-rep serve medians). */
  def ensureQ88Built(spark: SparkSession, dir: String): String = {
    val key = ("q88", dir)
    // a hit runs no Spark job: the corpus count below is build-only
    Sessions.memoMap(spark).get(key) match {
      case path: String => path
      case _ =>
        // coarse cells scale with the corpus (Ann.ivfK — identical to
        // the committed k=16 up to sf1); PQ codebook size stays fixed
        // (codebooks are per-SUBSPACE models, independent of n)
        val k = Ann.ivfK(Tables.embeddings(spark, dir).count())
        // the shared centroid model is a memo entry of its own: train
        // it here, since a memo compute must not add entries to the map
        Clustering.centroidsQuantized(spark, dir, k, iters = 5)
        Sessions.sessionMemo(spark, key) {
          val path = Bridge.createTempDir("graft-ivfpq-q88").getAbsolutePath
          buildPq(spark, dir, path, k = k, iters = 5, m = 8, pqK = 16, pqIters = 3)
          path
        }
    }
  }

  /** ADC shortlist for SERVING the IVF-PQ index: 15% of the probe's
    * candidate pool (the q82 pqShortlist fraction), where the pool is
    * probeCells × Ann.ivfK's target cell size — a DESIGN CONSTANT
    * (1125 for 6×1250), not a corpus function: ivfK grows cells with
    * n precisely so the per-probe pool (and hence the rerank budget)
    * stays O(1) at any corpus size. Measured at sf1: shortlist 300
    * (4% of pool) served recall 0.46; 1125 (15%) serves 0.66 against
    * the 0.73 cell-restriction ceiling (q45's measured 6-of-16-cell
    * recall). */
  def serveShortlist(nProbeCells: Int, targetCellSize: Int = 1250): Int =
    math.max(300, nProbeCells * targetCellSize * 3 / 20)

  def q88IvfpqProbe(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureQ88Built(spark, dir)
    val probes = Tables.embeddings(spark, dir)
      .filter(graft.Probes.isProbe(spark, col("vec_id"))).select("vec_id", "embedding")
    probePq(spark, path, probes, nProbeCells = 6,
      shortlist = serveShortlist(6), topK = 10)
  }

  /** Serve top-k against the IVF-PQ artifact: probes assign their own
    * cells and ADC tables from the two tiny stored models; the
    * cell-joined scan reads ONLY probed partitions and ONLY the code
    * columns; a per-probe ADC shortlist then fetches full vectors
    * from `<path>/vectors` for the exact integer rerank (the q82
    * two-stage contract, served from disk). */
  def probePq(spark: SparkSession, path: String, probes: DataFrame,
      nProbeCells: Int, shortlist: Int, topK: Int): DataFrame = {
    val cents = readCentroids(spark, path)
    val books = readCodebooks(spark, path)
    val m = books.length
    val pqK = books(0).length
    val p = probes
      .select(col("vec_id").as("probe_id"),
        Clustering.quantizedCol.as("pq_vec"))
      .select(col("probe_id"), col("pq_vec"),
        exprCol(PqDistTableInt(expression(col("pq_vec")), books)).as("dtab"),
        explode(exprCol(NearestCellsInt(expression(col("pq_vec")), cents,
          nProbeCells))).as("cell"))
    val corpus = spark.read.parquet(s"$path/corpus_pq")
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("cell"))
    val adc = (0 until m).map(s =>
        element_at(col("dtab"), lit(s * pqK + 1) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val short = p.join(corpus, "cell")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= shortlist)
      .select(col("probe_id"), col("pq_vec"), col("neighbor_id"), col("adc_dist"))
      // no pair dedup needed: each corpus vector lives in exactly one
      // cell, so (probe, neighbor) meets at most once across the fan-out
    val nq = spark.read.parquet(s"$path/vectors")
      .select(col("vec_id").as("neighbor_id"), col("q").as("nq"))
    val wExact = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    short
      .join(nq, "neighbor_id")
      .withColumn("dist",
        exprCol(IntVecSqDist(expression(col("pq_vec")), expression(col("nq")))))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"), col("dist"))
  }
}
