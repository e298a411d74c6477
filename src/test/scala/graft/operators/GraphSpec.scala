package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class GraphSpec extends AnyFunSuite with SparkFixture {

  test("pagerank matches the integer recurrence on a 3-node path graph") {
    val ss = spark; import ss.implicits._
    // path 1 - 2 - 3 as symmetric directed edges
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = Graph.pagerank(edges, iters = 1).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap
    val per = Graph.RankScale / 3
    val base = 15L * per / 100L
    // node 2 receives both endpoints' full rank; 1 and 3 receive half
    // of node 2's (outdeg 2) — the recurrence evaluated by hand
    assert(got(1L) === base + 85L * (per / 2) / 100L)
    assert(got(2L) === base + 85L * (per + per) / 100L)
    assert(got(3L) === base + 85L * (per / 2) / 100L)
    assert(got.size === 3)
  }

  test("rank mass is conserved up to floor losses; all ranks positive") {
    val pr = Graph.pagerank(Graph.copurchaseEdges(spark, sfDir), iters = 3)
    val row = pr.agg(sum(col("rank")), min(col("rank")), count(lit(1))).collect()(0)
    val (total, minRank, nodes) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(total <= Graph.RankScale, "mass can never exceed the scale")
    // every floor loses < 1 unit per contribution per round; with
    // |edges| + n losses per round against a 10^12 scale the total
    // stays within 1% of full mass
    assert(total >= Graph.RankScale - Graph.RankScale / 100)
    assert(minRank > 0)
    assert(nodes > 0)
  }

  test("co-purchase edges are symmetric, irreflexive and distinct") {
    val e = Graph.copurchaseEdges(spark, sfDir)
    assert(e.filter(col("src") === col("dst")).isEmpty)
    val reversed = e.select(col("dst").as("src"), col("src").as("dst"))
    assert(e.exceptAll(reversed).isEmpty, "every edge has its reverse")
    assert(e.count() === e.distinct().count())
  }

  test("copurchasePairsJoin is multiset-identical to copurchasePairs") {
    // the r13 q53 feed (distinct projection + co-partitioned
    // self-join) must emit the EXACT pair multiset of the
    // collect_set + double-explode derivation — per-order part sets
    // pair once per order in both — which is what keeps q53's oracle
    // SQL unchanged across the rewrite. exceptAll is multiset
    // difference, so this is multiset equality, not just set equality.
    val fast = Graph.copurchasePairsJoin(spark, sfDir)
    val raw = Graph.copurchasePairs(spark, sfDir)
    assert(fast.exceptAll(raw).isEmpty, "join feed has a pair raw lacks")
    assert(raw.exceptAll(fast).isEmpty, "join feed misses a raw pair")
    assert(fast.count() === raw.count())
  }

  test("pagerank over the self-join feed matches the explode feed bit-exactly") {
    def ranks(df: org.apache.spark.sql.DataFrame) =
      Graph.pagerank(df, iters = 3).collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("outdeg"),
          r.getAs[Long]("rank"))).sorted.toSeq
    val viaJoin = ranks(Graph.copurchasePairsJoin(spark, sfDir))
    val viaRaw = ranks(Graph.copurchasePairs(spark, sfDir))
    assert(viaJoin === viaRaw)
    assert(viaJoin.nonEmpty)
  }

  test("q53 emits 20 rows in total (rank DESC, part ASC) order") {
    val rows = Graph.q53Pagerank(spark, sfDir).collect()
    assert(rows.length === 20)
    val keys = rows.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("part_key")))
    val sorted = keys.sortBy { case (rank, part) => (-rank, part) }
    assert(keys.sameElements(sorted))
    assert(rows.forall(_.getAs[Long]("out_degree") >= 1))
  }

  test("pagerank at iters = 10 matches a single-threaded integer replay") {
    // exercises the every-4-rounds lineage truncation path (iters > 4)
    // and proves truncation changes nothing: integer ranks make the
    // truncated and unbroken chains bit-identical
    val edges = Graph.copurchaseEdges(spark, sfDir)
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).distinct.sorted }
    val n = adj.size
    val per = Graph.RankScale / n
    val base = 15L * per / 100L
    var rank = adj.keys.map(_ -> per).toMap
    for (_ <- 1 to 10) {
      val inc = scala.collection.mutable.Map.empty[Long, Long]
      adj.foreach { case (u, nbrs) =>
        val c = rank(u) / nbrs.length
        nbrs.foreach(v => inc(v) = inc.getOrElse(v, 0L) + c)
      }
      rank = adj.keys.map(u => u -> (base + 85L * inc.getOrElse(u, 0L) / 100L)).toMap
    }
    val got = Graph.pagerank(edges, iters = 10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap
    assert(got === rank)
  }

  test("pagerank narrow-id (int) and wide-id (long) branches agree; bad certificate fails") {
    val edges = Graph.copurchaseEdges(spark, sfDir)
    val wide = Graph.pagerank(edges, iters = 3, narrowIds = false).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("outdeg"), r.getAs[Long]("rank"))).sorted
    val narrow = Graph.pagerank(edges, iters = 3, narrowIds = true).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("outdeg"), r.getAs[Long]("rank"))).sorted
    assert(wide.sameElements(narrow))
    // a violated certificate must fail loudly, not wrap ids
    val ss = spark; import ss.implicits._
    val big = Seq((Int.MaxValue.toLong + 1, 1L), (1L, Int.MaxValue.toLong + 1)).toDF("src", "dst")
    val e = intercept[Exception] {
      Graph.pagerank(big, iters = 1, narrowIds = true).collect()
    }
    // the raise_error path specifically — not just any failure (an
    // unrelated AnalysisException would otherwise pass); unwrap the
    // cause chain because Spark wraps task failures in SparkException
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(messages.exists(_.contains("narrowIds certificate violated")))
  }

  test("pagerank deletes every shuffle it created by the time it returns") {
    import org.apache.spark.sql.graftbridge.Bridge
    val edges = Graph.copurchaseEdges(spark, sfDir)
    // enough iterations to cross two truncation points
    val before = Bridge.shuffleIds(spark)
    // pagerank materializes eagerly (checkpointed result) — no action
    // here, so any id left registered is pagerank's own
    val out = Graph.pagerank(edges, iters = 6)
    Bridge.releaseCheckpoints(out)
    val leaked = Bridge.shuffleIds(spark) -- before
    assert(leaked.isEmpty,
      s"pagerank left shuffles registered (disk-hygiene regression): $leaked")
  }

  test("spark.graft.checkpointDir: durable truncations, identical ranks") {
    val edges = Graph.copurchaseEdges(spark, sfDir)
    def run(): Seq[(Long, Long, Long)] =
      Graph.pagerank(edges, iters = 5).collect().toSeq
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("outdeg"),
          r.getAs[Long]("rank"))).sorted
    val viaLocal = run()
    val dir = org.apache.spark.sql.graftbridge.Bridge.createTempDir("graft-ckpt").toPath
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    val viaDurable = try run()
      finally spark.conf.unset("spark.graft.checkpointDir")
    assert(viaLocal === viaDurable)
    // the durable run actually wrote checkpoint data under the dir
    val wrote = java.nio.file.Files.walk(dir).count() > 1
    assert(wrote, "durable run left no files under the checkpoint dir")
    // best-effort cleanup of the temp checkpoint tree
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("q53/q86/q87 release their checkpoint blocks (no block-manager litter)") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    Graph.q53Pagerank(spark, sfDir).collect()
    Graph.q87Triangles(spark, sfDir).collect()
    TextAnalysis.q86Bpe(spark, sfDir).collect()
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("q87 per-node triangle counts match an id-ordered local enumeration") {
    // independent algorithm: id-ordered wedge enumeration over the
    // collected edge set (the compact-forward impl orients by degree —
    // same triangles either way, which is the point of the check)
    val edges = Graph.copurchaseEdges(spark, sfDir)
      .filter(col("src") < col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val higher = edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).toSet
    }
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (u, v) =>
      higher.get(v).foreach { hv =>
        higher(u).iterator.filter(hv.contains).foreach { w =>
          Seq(u, v, w).foreach(n => counts(n) = counts.getOrElse(n, 0L) + 1)
        }
      }
    }
    val expected = counts.toSeq.sortBy { case (n, t) => (-t, n) }.take(20)
      .zipWithIndex.map { case ((n, t), i) => n -> ((t, i + 1)) }.toMap
    val got = Graph.q87Triangles(spark, sfDir).collect()
      .map(r => r.getAs[Long]("part_key") ->
        ((r.getAs[Long]("triangles"), r.getAs[Int]("tri_rank")))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  /** q87's ranked (part_key, triangles, degree) rows at one broadcast
    * budget, checkpoints released. */
  private def q87Ranked(dir: String, budget: Long): Seq[(Long, Long, Long)] = {
    val (df, cks) = Graph.q87RankedPlan(spark, dir, maxBroadcastEdges = budget)
    val rows = df.collect().map(r => (r.getAs[Long]("part_key"),
      r.getAs[Long]("triangles"), r.getAs[Long]("degree"))).toSeq
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(cks: _*)
    rows
  }

  test("q87 ids past 2^32: l_partkey + 2^40 ranks the same triangles, shifted") {
    // the packed adjacency encoding does not depend on id width: shift
    // every part key past 2^32 and the ranking must be the fixture's,
    // shifted by the same amount (the offset keeps every (degree, id)
    // order, so orientation and ties are unchanged) — on the broadcast
    // branch and on the shuffle branch
    val offset = 1L << 40
    val root = org.apache.spark.sql.graftbridge.Bridge.createTempDir("graft-q87-wide").toPath
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .withColumn("l_partkey", col("l_partkey").cast("long") + lit(offset))
        .write.parquet(s"$root/lineitem.parquet")
      val expected = q87Ranked(sfDir, Long.MaxValue).map { case (p, t, d) =>
        (p + offset, t, d)
      }
      assert(expected.nonEmpty)
      assert(q87Ranked(root.toString, Long.MaxValue) === expected)
      assert(q87Ranked(root.toString, 0L) === expected)
    } finally {
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("q87 packed-shuffle branch (budget 0) matches the broadcast branch") {
    // past the broadcast budget the packed adjacency lists cross the
    // endpoint join's exchange instead of riding a broadcast. The
    // ranked result must be IDENTICAL to the broadcast branch's.
    val bcast = q87Ranked(sfDir, Long.MaxValue)
    assert(q87Ranked(sfDir, 0L) === bcast)
    assert(bcast.nonEmpty)
  }
}
