package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Ann

/** The probe-cap contract (Probes.isProbe): capping must select a
  * deterministic PREFIX of the standard every-50th-id probe set — the
  * capped bench workload is a subset of the uncapped one, never a
  * different one — and the default (no cap) must be byte-identical to
  * the historical `id % 50 === 0` convention every committed record
  * was taken under. */
class ProbesSpec extends AnyFunSuite with SparkFixture {

  private def withCap[A](v: String)(body: => A): A = {
    spark.conf.set(Probes.CapKey, v)
    try body finally spark.conf.unset(Probes.CapKey)
  }

  private def q45Triples(s: org.apache.spark.sql.SparkSession): Set[(Long, Long, Int)] =
    Ann.q45AnnIvf(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("uncapped isProbe matches the historical % 50 convention") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val viaHelper = emb.filter(Probes.isProbe(spark, col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val viaLiteral = emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(viaHelper.sameElements(viaLiteral))
    assert(viaHelper.nonEmpty)
  }

  test("cap selects exactly the first N probes by id (dense-id corpus)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val all = emb.filter(Probes.isProbe(spark, col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val capped = withCap("3") {
      emb.filter(Probes.isProbe(spark, col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).sorted
    }
    assert(capped.length === math.min(3, all.length))
    assert(capped.sameElements(all.take(capped.length)))
  }

  test("capped q45 results equal the uncapped results restricted to the capped probes") {
    val full = q45Triples(spark)
    val capped = withCap("2")(q45Triples(spark))
    val cappedProbes = capped.map(_._1).toSet
    assert(cappedProbes.size <= 2 && cappedProbes.nonEmpty)
    // same (probe, neighbor, rank) triples: the cap changes WHICH
    // probes run, never what any probe retrieves (the IVF index —
    // centroids, cells — is corpus-side and cap-independent)
    assert(capped.toSet === full.filter(t => cappedProbes(t._1)))
  }

  test("two sessions of one JVM run q45 at once, each under its own cap") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val full = q45Triples(spark)
    val probes = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 50 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val caps = Seq(2L, 3L)
    val sessions = caps.map { c =>
      val s = spark.newSession()
      s.conf.set(Probes.CapKey, c)
      s
    }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(caps.length)
    val runs = sessions.map(s => pool.submit(new Callable[Set[(Long, Long, Int)]] {
      override def call(): Set[(Long, Long, Int)] = { start.await(); q45Triples(s) }
    }))
    start.countDown()
    val got = try runs.map(_.get(300, TimeUnit.SECONDS)) finally pool.shutdown()
    caps.zip(got).foreach { case (c, triples) =>
      val prefix = probes.take(c.toInt).toSet
      assert(triples.map(_._1) === prefix, s"cap $c selects the first $c probes")
      assert(triples === full.filter(t => prefix(t._1)))
    }
    assert(Probes.cap(spark) === 0L, "the sessions' caps leave the parent session uncapped")
  }

  test("a blank cap reads as unset; a non-numeric cap fails naming the key and value") {
    // the env fallback is unset in the test JVM, so blank conf is uncapped
    assume(sys.env.get("SPARK_GRAFT_PROBE_CAP").forall(_.trim.isEmpty))
    for (v <- Seq("", "  ")) assert(withCap(v)(Probes.cap(spark)) === 0L, s"cap '$v'")
    val e = intercept[IllegalArgumentException](withCap("x")(Probes.cap(spark)))
    assert(e.getMessage.contains(Probes.CapKey) &&
      e.getMessage.contains("SPARK_GRAFT_PROBE_CAP") && e.getMessage.contains("'x'"),
      e.getMessage)
  }
}
