package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class AnnSpec extends AnyFunSuite with SparkFixture {

  test("q24 brute force: ranks dense, cosine descending per probe") {
    val rows = Ann.q24AnnBruteforce(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).sameElements(1 to rs.length))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q24 rank-1 equals exact argmax computed locally for one probe") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray)
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = 0L
    val best = emb.filter(_._1 != probe)
      .map { case (id, v) => (id, cos(emb(probe), v)) }
      .maxBy { case (id, c) => (c, -id) }
    val got = Ann.q24AnnBruteforce(spark, sfDir)
      .filter(col("probe_id") === probe && col("rank") === 1).collect()(0)
    assert(got.getAs[Long]("neighbor_id") === best._1)
    assert(math.abs(got.getAs[Double]("cosine") - best._2) < 1e-9)
  }

  test("q25 LSH candidates are a subset of brute-force quality: recall@5 > 0") {
    val lsh = Ann.q25AnnLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    // every returned neighbor must share at least one bucket => cosine
    // ordering within candidates still descends
    lsh.groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      val cos = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q25 fused top-k plan is row-identical to the dedup+window formulation") {
    // The r10 rewrite (broadcast probes -> in-stage cosine ->
    // TopKDistinctAgg) claims bit-identical results to the original
    // dropDuplicates + row_number() OVER (...) shape it replaced for
    // scale reasons. Assert that by running the ORIGINAL formulation
    // here, independently of the operator code.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.Bridge.{column => exprCol, expression}
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        posexplode(exprCol(graft.functions.HyperplaneBuckets(
          expression(col("embedding")), 8, 8))).as(Seq("tbl", "bucket")))
    val probes = emb.filter(graft.Probes.isProbe(spark, col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("tbl"), col("bucket"))
    val cand = probes
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id", "p_emb", "embedding")
      .dropDuplicates("probe_id", "neighbor_id")
      .withColumn("cosine", exprCol(graft.functions.FloatVecCosine(
        expression(col("p_emb")), expression(col("embedding")))))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val original = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .collect().map(_.toSeq).toSet
    val fused = Ann.q25AnnLsh(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(fused === original)
    assert(fused.nonEmpty)
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def ivfRecall(dir: String): Double = {
    val exact = Ann.q24AnnBruteforce(spark, dir)
      .filter(col("rank") <= 5).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Ann.q45AnnIvf(spark, dir).collect()
    ivf.groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      val cs = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val found = ivf.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    (found & exact).size.toDouble / exact.size
  }

  /** (precision-is-1.0 asserted inside; returns measured recall
    * against locally-computed exact all-pairs ground truth — collect
    * is metadata-sized for the spec corpora: <=2000 x 64 floats. The
    * corpora hold no high-cosine planted pairs, so threshold 0.3 sits
    * near the random background — the regime where the adaptive gate
    * must pick the dense exact path; the LSH variant is exercised
    * explicitly below.) */
  private def nearDupRecall(dir: String,
      pairs: => Array[org.apache.spark.sql.Row]): Double = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray)
      .toMap
    val ids = emb.keys.toArray.sorted
    val gt = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1 until ids.length).iterator
      if cos(emb(ids(ai)), emb(ids(bi))) >= 0.3
    } yield (ids(ai), ids(bi))).toSet
    val rows = pairs
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.3))
    assert(rows.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
    val got = rows.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(got.subsetOf(gt), "exact verify must make precision 1.0")
    got.size.toDouble / gt.size
  }

  test("q45 IVF ANN: recall@5 vs exact brute force, descending within probe") {
    // measured 0.82 on this (deterministic) corpus probing 6/16 cells —
    // near-random embeddings are ANN's hardest regime; clustered data
    // does far better for the same probe fraction
    val recall = ivfRecall(sfDir)
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.75, s"recall $recall")
  }

  test("q45 IVF recall holds at the bench scale factor (sf0.1, 2000 vectors)") {
    // measured 0.74 (deterministic corpus): 4x the vectors with the
    // same 16 cells / 6 probes — recall degrades gently, not off a
    // cliff, which is the property this guard pins
    val recall = ivfRecall("/root/testdata/sf0.1")
    info(s"IVF recall@5 at sf0.1 = $recall")
    assert(recall >= 0.70, s"recall $recall")
  }

  test("q30 dense near-dup: precision 1.0 AND recall 1.0 vs exact ground truth") {
    // q30 runs the blocked-dense exact path, whose recall is 1.0 by
    // construction — the spec pins exactness, not a floor
    val recall = nearDupRecall(sfDir, Ann.q30DedupEmbedding(spark, sfDir).collect())
    assert(recall == 1.0, s"dense path must be exact, got recall $recall")
  }

  test("q30 dense near-dup stays exact at the bench scale factor (sf0.1, 2000 vectors)") {
    val dir = "/root/testdata/sf0.1"
    val recall = nearDupRecall(dir, Ann.q30DedupEmbedding(spark, dir).collect())
    assert(recall == 1.0, s"dense path must be exact, got recall $recall")
  }

  /** Exact top-k by quantized int distance — the ranking PQ's ADC
    * approximates; measures codebook quality, not float noise. */
  private def pqRecall(dir: String, topK: Int): Double = {
    val q = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(x =>
          math.floor(x.toDouble * Clustering.QuantScale).toLong).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val probes = q.keys.filter(_ % 50 == 0)
    val exact = probes.flatMap { p =>
      q.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, d2(q(p), v)) }
        .sortBy { case (id, dd) => (dd, id) }.take(topK)
        .map { case (id, _) => (p, id) }
    }.toSet
    val got = Ann.q82Pq(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    (got & exact).size.toDouble / exact.size
  }

  test("q82 PQ: adc + exact distances match a local codebook replay; ranks dense") {
    val m = 8
    val cents = Ann.pqCodebooks(spark, sfDir, m = m, k = 16, iters = 3)
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(x =>
          math.floor(x.toDouble * Clustering.QuantScale).toLong).toArray)
      .toMap
    val dsub = 64 / m
    def subDist(v: Array[Long], s: Int, cent: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < dsub) { val t = v(s * dsub + i) - cent(i); d += t * t; i += 1 }
      d
    }
    def encode(v: Array[Long]): Array[Int] =
      Array.tabulate(m) { s =>
        cents(s).zipWithIndex.minBy { case (c, i) => (subDist(v, s, c), i) }._2
      }
    def exactDist(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val rows = Ann.q82Pq(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = q(r.getAs[Long]("probe_id"))
      val n = q(r.getAs[Long]("neighbor_id"))
      val codes = encode(n)
      val adc = (0 until m).map(s => subDist(p, s, cents(s)(codes(s)))).sum
      assert(r.getAs[Long]("adc_dist") === adc,
        s"adc mismatch for ${r.getAs[Long]("probe_id")}->${r.getAs[Long]("neighbor_id")}")
      assert(r.getAs[Long]("dist") === exactDist(p, n))
    }
    rows.groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
      val ds = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("dist"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q82 PQ recall@10 vs the exact quantized ranking at both corpus sizes") {
    // measured 0.99 (sf0.001) / 0.8275 (sf0.1) on the deterministic
    // near-random corpus — PQ's hardest regime (on clustered data the
    // codebooks adapt and recall rises); the recall lever is the ADC
    // shortlist (300 — raised from 100 in r6, which measured 0.61 at
    // sf0.1 where a fixed 100 was only 2% of the corpus), which the
    // exact rerank then orders. Floors pin the production bar: >= 0.8
    // at BOTH scale factors.
    val r1 = pqRecall(sfDir, 10)
    info(s"PQ recall@10 = $r1")
    assert(r1 >= 0.90, s"recall $r1")
    val r2 = pqRecall("/root/testdata/sf0.1", 10)
    info(s"PQ recall@10 at sf0.1 = $r2")
    assert(r2 >= 0.80, s"recall $r2")
  }

  /** Exact top-k by quantized distance restricted to a probe's rows in
    * a frame — shared by the q88-served floor below. */
  private def servedRecall(dir: String, topK: Int): Double = {
    val q = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(x =>
          math.floor(x.toDouble * Clustering.QuantScale).toLong).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val probes = q.keys.filter(_ % 50 == 0)
    val exact = probes.flatMap { p =>
      q.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, d2(q(p), v)) }
        .sortBy { case (id, d) => (d, id) }.take(topK)
        .map { case (id, _) => (p, id) }
    }.toSet
    val served = graft.sources.IvfIndex.q88IvfpqProbe(spark, dir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    (served & exact).size.toDouble / exact.size
  }

  test("ANN recall floors hold at the sf1 scale step (20k vectors, cells at the 1250 target)") {
    // VERDICT r6 #7: the sf1 corpus is 10x sf0.1 with the SAME 16
    // coarse cells — exactly the 1250-vector target cell size ivfK
    // pins (20000/1250 = 16), so these floors certify the
    // constant-cell-size contract at its design point. Guarded on the
    // generated corpus (tools/gen_sf1.py / tools/run_sf1_gate.sh).
    // the sandbox wipes generated corpora between sessions; a bare
    // `sbt test` used to silently lose this spec to a cancel — now it
    // regenerates sf1 itself (~20 s, deterministic) and only cancels
    // if generation is impossible (missing source corpus/python)
    val sf1Dir = graft.SparkFixture.ensureSf1()
    assume(sf1Dir.isDefined, "sf1 corpus could not be generated — " +
      "run: python3 tools/gen_sf1.py /root/testdata/sf0.1 testdata/sf1 10")
    val sf1 = sf1Dir.get
    val ivf = ivfRecall(sf1)
    info(s"IVF recall@5 at sf1 = $ivf")
    assert(ivf >= 0.70, s"IVF recall $ivf")
    val pq = pqRecall(sf1, 10)
    info(s"PQ recall@10 at sf1 = $pq")
    assert(pq >= 0.75, s"PQ recall $pq")
    // measured 0.6415: the product of the 6-of-16-cell restriction
    // ceiling (0.729 — the IVF number above) and ADC shortlist recall
    // (0.93 at the 15%-of-pool serveShortlist; a fixed 300 measured
    // 0.46). On near-random data the probe fan-out is the recall
    // knob; the floor pins the serving path against regression, not
    // a production target.
    val srv = servedRecall(sf1, 10)
    info(s"q88 served recall@10 at sf1 = $srv")
    assert(srv >= 0.60, s"served recall $srv")
  }

  test("q90 SemDeDup k is corpus-derived: expected cell size stays bounded at every n") {
    // the scale contract: n/k <= targetCellSize for ALL n (below the
    // 16-cell floor's crossover the floor itself keeps cells under
    // target), so within-cell candidates are O(n * target) — linear.
    for (n <- Seq(1L, 500L, 2000L, 4000L, 20000L, 200000L, 1000000L, 1000000000L)) {
      val k = Ann.semDedupK(n)
      assert(k >= 16, s"n=$n k=$k")
      assert(n.toDouble / k <= 250.0, s"n=$n k=$k expected cell ${n.toDouble / k}")
    }
    // the three on-disk fixtures hit both regimes of the formula
    assert(Ann.semDedupK(500) === 16)    // sf0.001/sf0.01: floor regime
    assert(Ann.semDedupK(2000) === 16)   // sf0.1: floor regime
    assert(Ann.semDedupK(20000) === 80)  // sf1: scaling regime
  }

  test("two-level quantizer formulas: sqrt supers, bounded sub-cells, MAC budget") {
    // ceilSqrt is the exact integer ceiling of sqrt
    for (k <- Seq(1L, 2L, 4L, 15L, 16L, 17L, 80L, 81L, 82L, 8000L, 1000000L)) {
      val s = Clustering.ceilSqrt(k).toLong
      assert(s * s >= k && (s - 1) * (s - 1) < k, s"k=$k s=$s")
    }
    // per-sub-cell bound: tgt <= 250 always; k2_c = ceil(n_c/tgt) keeps
    // EVERY super's expected sub-cell size <= tgt (stronger than the
    // flat formula's global expectation), and the per-pass assignment
    // work n*(k1 + max k2) stays ~n*sqrt(k) — sub-quadratic (the flat
    // trainer's n*k was q90's measured 494 s at sf100)
    for (n <- Seq(20L, 200L, 2000L, 20000L, 200000L, 2000000L)) {
      val tgt = Clustering.twoLevelTarget(n, 250)
      assert(tgt >= 1 && tgt <= 250, s"n=$n tgt=$tgt")
      val k = Ann.semDedupK(n)
      val k1 = Clustering.ceilSqrt(k)
      // even at perfect super balance, cells ~= k; at total imbalance
      // (one super holds all n) sub-cells still bound at tgt each
      val worstK2 = (n + tgt - 1) / tgt
      assert(worstK2 * tgt >= n, s"n=$n")
      val flatMacs = n.toDouble * k
      val twoLevelMacs = n.toDouble * (k1 + (n.toDouble / k1 / tgt + 1))
      if (n >= 20000) // above the floor regime the saving is real
        assert(twoLevelMacs < flatMacs / 2.0,
          s"n=$n flat=$flatMacs two-level=$twoLevelMacs")
    }
  }

  /** Local q90 replay against an arbitrary cell assignment: groups by
    * cell, prunes every vector with a lower-id cosine-close cellmate,
    * and compares the Spark report row-for-row. */
  private def checkQ90Report(
      got: Array[org.apache.spark.sql.Row],
      embs: Array[(Long, Array[Float])],
      cellOf: Array[Float] => Long): Unit = {
    val idToVec = embs.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = embs.groupBy { case (_, v) => cellOf(v) }.map { case (c, vs) =>
      val ids = vs.map(_._1)
      val pruned = ids.count { b =>
        ids.exists(a => a < b && cos(idToVec(a), idToVec(b)) >= 0.25)
      }.toLong
      c.toLong -> ((ids.length.toLong, pruned))
    }
    assert(got.length === expected.size)
    var totalPruned = 0L
    got.foreach { r =>
      val (n, pruned) = expected(r.getAs[Long]("cell"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Long]("pruned") === pruned)
      assert(r.getAs[Long]("kept") === n - pruned)
      assert(r.getAs[Long]("prune_bp") === pruned * 10000 / n)
      totalPruned += pruned
    }
    assert(got.map(_.getAs[Long]("n")).sum === embs.length)
    assert(totalPruned > 0, "corpus must exercise the prune path")
  }

  private def localArgmin(q: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = -1; var bd = Long.MaxValue
    for (c <- cents.indices) {
      var d = 0L; var j = 0
      while (j < q.length) { val t = q(j) - cents(c)(j); d += t * t; j += 1 }
      if (d < bd) { bd = d; best = c }
    }
    best
  }

  private def loadEmbs(): Array[(Long, Array[Float])] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray)

  test("q90 regime gate: the fixture corpus picks FLAT, and the report " +
      "matches a flat-quantizer local replay") {
    val embs = loadEmbs()
    assert(embs.length < Ann.TwoLevelMinVectors,
      "fixture corpus must sit in the flat regime for this spec")
    val cents = Clustering.centroidsQuantized(
      spark, sfDir, k = Ann.semDedupK(embs.length.toLong), iters = 5)
    def cellOf(v: Array[Float]): Long =
      localArgmin(v.map(x => math.floor(x.toDouble * 16777216.0).toLong), cents).toLong
    // the PUBLIC entrypoint: its gate must choose the flat branch here
    checkQ90Report(Ann.q90SemanticDedup(spark, sfDir).collect(), embs, cellOf)
  }

  test("q90 two-level branch matches an independent local replay " +
      "(forced at fixture size; the gate picks it naturally at >=50k)") {
    val embs = loadEmbs()
    val embCount = embs.length.toLong
    val model = Clustering.twoLevelQuantizer(spark, sfDir, embCount,
      target = 250, iters = 5)
    // structural contract on the trained artifact itself: every
    // non-empty super's codebook honors the ceil(n_c/tgt) size, and
    // offsets are the dense prefix sums
    assert(model.offsets.zip(model.subCents.map(_.length.toLong))
      .scanLeft(0L) { case (acc, (off, len)) => assert(off === acc); acc + len }
      .last === model.totalCells)
    def cellOf(v: Array[Float]): Long = {
      val q = v.map(x => math.floor(x.toDouble * 16777216.0).toLong)
      val s = localArgmin(q, model.superCents)
      model.offsets(s) + localArgmin(q, model.subCents(s))
    }
    val got = Ann.q90SemanticDedupImpl(spark, sfDir, embCount,
      twoLevel = true).collect()
    checkQ90Report(got, embs, cellOf)
  }

  test("twoLevelQuantizer fails fast past the driver-update row budget") {
    val embCount = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val e = intercept[IllegalArgumentException] {
      // target = 1 makes k2 ~ n, so updateRows = n*dim blows a budget
      // set below it — the guard must name the mitigation, not OOM
      Clustering.twoLevelQuantizer(spark, sfDir, embCount,
        target = 1, iters = 1, maxDriverUpdateRows = embCount)
    }
    assert(e.getMessage.contains("shard the level-2 update by super"))
  }
}
