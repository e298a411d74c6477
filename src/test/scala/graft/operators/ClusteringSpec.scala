package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class ClusteringSpec extends AnyFunSuite with SparkFixture {

  /** One integer assignment pass (the NearestCentroidInt step every
    * Lloyd's iteration runs) over a (vec_id, embedding) frame. */
  private def assignQuantized(df: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Long]]): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    df.select(col("vec_id"), column(graft.functions.NearestCentroidInt(
        expression(Clustering.quantizedCol), centroids)).as("asg"))
      .select(col("vec_id"), col("asg.*")).collect()
  }

  /** A centroid with every coordinate at `x`, in quantized units. */
  private def quantizedCentroid(x: Double): Array[Long] =
    Array.fill(8)(math.floor(x * Clustering.QuantScale).toLong)

  test("kmeans separates two obvious blobs") {
    import spark.implicits._
    // blob A near (10,10,...), blob B near (-10,-10,...); k=2
    def vec(base: Float, jitter: Float) = Array.fill(8)(base).zipWithIndex
      .map { case (v, i) => v + jitter * (i % 3) }
    val rows = (0L to 5L).map(i => (i, vec(10f, 0.1f * i))) ++
      (6L to 11L).map(i => (i, vec(-10f, 0.1f * i)))
    val df = rows.toDF("vec_id", "embedding")
    // run assignment with centroids from each blob
    val centroids = Array(quantizedCentroid(10.0), quantizedCentroid(-10.0))
    val out = assignQuantized(df, centroids)
    assert(out.length === rows.length)
    out.foreach { r =>
      val expected = if (r.getAs[Long]("vec_id") <= 5L) 0 else 1
      assert(r.getAs[Int]("cluster") === expected)
    }
  }

  test("kmeansSilhouette produces k clusters partitioning the corpus, silhouette in [-1,1]") {
    val out = Clustering.kmeansSilhouette(spark, sfDir).collect()
    assert(out.length <= 10 && out.nonEmpty)
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total === spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    assert(out.forall(_.getAs[Double]("rms_dist") >= 0.0))
    out.foreach { r =>
      val s = r.getAs[Double]("silhouette")
      assert(!s.isNaN && s >= -1.0 && s <= 1.0, s"silhouette $s out of range")
    }
  }

  test("q32 quantized kmeans partitions the corpus; metrics derive from exact sums") {
    val out = Clustering.q32Kmeans(spark, sfDir).collect()
    assert(out.length <= 10 && out.nonEmpty)
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total === spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    out.foreach { r =>
      assert(r.getAs[Double]("rms_dist") >= 0.0)
      assert(r.getAs[Double]("separation") >= 1.0,
        "second-nearest centroid can never be closer than the nearest")
    }
  }

  test("quantized kmeans matches a local replay of the identical integer iterations") {
    // independent ground truth: run the same quantized Lloyd's loop in
    // plain Scala over the collected corpus — every reduction is
    // integer, so the distributed result must be bit-identical
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.floor(x.toDouble * Clustering.QuantScale).toLong).toArray)
    val k = 10; val iters = 5
    var cents = emb.take(k).map(_._2.clone())
    def nearest2(q: Array[Long]): (Int, Long, Long) = {
      var best = -1; var bd = Long.MaxValue; var sd = Long.MaxValue
      for (c <- cents.indices) {
        var d = 0L
        for (i <- q.indices) { val t = q(i) - cents(c)(i); d += t * t }
        if (d < bd) { sd = bd; bd = d; best = c } else if (d < sd) sd = d
      }
      (best, bd, sd)
    }
    for (_ <- 1 to iters) {
      val byCluster = emb.groupBy { case (_, q) => nearest2(q)._1 }
      val next = cents.map(_.clone())
      byCluster.foreach { case (c, members) =>
        for (i <- 0 until 64) {
          val s = members.map(_._2(i)).sum
          next(c)(i) = Math.floorDiv(s, members.length.toLong)
        }
      }
      cents = next
    }
    val local = emb.map { case (id, q) => val (c, d, d2) = nearest2(q); (id, c, d, d2) }
      .groupBy(_._2).map { case (c, rows) =>
        c -> ((rows.length.toLong, rows.map(r => BigInt(r._3)).sum, rows.map(r => BigInt(r._4)).sum))
      }
    val dist = Clustering.kmeansQuantized(spark, sfDir, k, iters).collect()
      .groupBy(_.getAs[Int]("cluster")).map { case (c, rows) =>
        c -> ((rows.length.toLong,
          rows.map(r => BigInt(r.getAs[Long]("sq_dist"))).sum,
          rows.map(r => BigInt(r.getAs[Long]("sq_dist2"))).sum))
      }
    assert(dist === local)
  }

  test("assignment silhouette term: clear blob points score near 1") {
    import spark.implicits._
    val rows = Seq((0L, Array.fill(8)(10f)), (1L, Array.fill(8)(-10f)))
    val df = rows.toDF("vec_id", "embedding")
    val centroids = Array(quantizedCentroid(10.0), quantizedCentroid(-10.0))
    val out = assignQuantized(df, centroids)
    assert(out.length === 2)
    out.foreach { r =>
      val a = math.sqrt(r.getAs[Long]("sq_dist").toDouble)
      val b = math.sqrt(r.getAs[Long]("sq_dist2").toDouble)
      assert(a === 0.0) // sits on its centroid
      assert(b > 0.0)
      assert((b - a) / math.max(a, b) === 1.0)
    }
  }

  test("kmeans is deterministic across runs") {
    val a = Clustering.q32Kmeans(spark, sfDir).orderBy("cluster").collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n")))
    val b = Clustering.q32Kmeans(spark, sfDir).orderBy("cluster").collect()
      .map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n")))
    assert(a.sameElements(b))
  }

  test("quantized centroid model memoizes per (session, dir, k, iters)") {
    // build-once/serve-many (r12): the second call must return the
    // MEMOIZED model — the same array instance, not a retrained copy —
    // which is what lets Bench time q45's train once as build_sec
    // while the reps serve. Different params miss the memo.
    val a = Clustering.centroidsQuantized(spark, sfDir, 4, 2)
    val b = Clustering.centroidsQuantized(spark, sfDir, 4, 2)
    assert(a eq b, "memo hit returns the identical trained model")
    val c = Clustering.centroidsQuantized(spark, sfDir, 4, 1)
    assert(!(c eq a), "different iteration count is a different model")
    assert(a.length === 4 && a.forall(_.length === 64))
  }
}
