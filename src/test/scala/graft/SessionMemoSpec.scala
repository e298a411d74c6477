package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the weak per-session memo store (Sessions.sessionMemo,
  * r13 — VERDICT r12 What's-wrong #3): within a session, hits return
  * the identical instance and compute runs once; a FRESH session
  * recomputes; and a dropped session's entries do not pin memory —
  * once the session object is unreachable its whole memo map is
  * collectable (the old identity-hash global map kept every stopped
  * session's centroid models alive for the life of the JVM, and a
  * reused identity hash could alias a stale entry).
  */
class SessionMemoSpec extends AnyFunSuite with SparkFixture {

  test("same session: one compute, identical instance on every hit") {
    var computes = 0
    def get(): AnyRef =
      Sessions.sessionMemo(spark, ("memo-spec", "same-session")) {
        computes += 1; new Array[Long](4)
      }
    val a = get()
    val b = get()
    assert(a eq b, "memo hit must return the identical instance")
    assert(computes === 1)
  }

  test("a fresh session recomputes (invalidation granularity)") {
    var computes = 0
    def get(s: org.apache.spark.sql.SparkSession): AnyRef =
      Sessions.sessionMemo(s, ("memo-spec", "fresh-session")) {
        computes += 1; new Array[Long](4)
      }
    val first = get(spark)
    // newSession shares the SparkContext but is a distinct session
    // object — the library's cache-invalidation boundary
    val fresh = spark.newSession()
    val second = get(fresh)
    assert(computes === 2, "a fresh session must re-run the compute")
    assert(!(first eq second))
  }

  test("a dropped session's memo entries are collectable") {
    // track the throwaway session AND its memo payload with weak refs
    // (not the global live count, which parallel suites perturb);
    // scope them in a method so no local slot in THIS frame keeps the
    // session reachable after the call returns
    var sessionRef: java.lang.ref.WeakReference[AnyRef] = null
    var payloadRef: java.lang.ref.WeakReference[AnyRef] = null
    def populate(): Unit = {
      val s = spark.newSession()
      val payload = Sessions.sessionMemo(s, ("memo-spec", "collectable")) {
        new Array[Long](1024)
      }
      sessionRef = new java.lang.ref.WeakReference(s)
      payloadRef = new java.lang.ref.WeakReference(payload)
    }
    populate()
    // weak keys: once the session object is unreachable, GC may clear
    // the entry at any time; poll with explicit GCs (bounded)
    var tries = 0
    while ((sessionRef.get != null || payloadRef.get != null) && tries < 50) {
      System.gc()
      Thread.sleep(50)
      // size() expunges cleared entries, releasing the VALUE map too
      Sessions.liveMemoSessionCount
      tries += 1
    }
    assert(sessionRef.get == null,
      "a dropped session must be collectable despite its memo entries")
    assert(payloadRef.get == null,
      "a collected session's memo payloads must be collectable with it")
  }

  test("a dropped session that served query cache hits is collectable") {
    // the cache's schema memo lives in the session's memo map; its
    // value must not reference the session, or the weak key could
    // never be cleared. newSession shares the suite's SparkContext, so
    // the session is not stopped (stop() would end the context); it is
    // dropped, which leaves the memo store in the same state
    val before = Sessions.liveMemoSessionCount
    var sessionRef: java.lang.ref.WeakReference[AnyRef] = null
    def serve(): Unit = {
      val s = spark.newSession()
      import s.implicits._
      val dir = org.apache.spark.sql.graftbridge.Bridge.createTempDir("graft-memo-cache").toString
      val cfg = "memo-collectable"
      sources.QueryCache.cached(s, dir, cfg)(Seq(1, 2).toDF("x"))
      // collect, not count: count() plans an aggregate, and a session
      // that ran a shuffle stays reachable from Spark's own shuffle
      // state, outside the memo store this spec is about
      (1 to 3).foreach(_ =>
        assert(sources.QueryCache.cached(s, dir, cfg)(sys.error("must not rebuild"))
          .collect().length === 2))
      val entry = java.nio.file.Paths.get(dir, sources.QueryCache.cacheKey(cfg))
      assert(Sessions.memoMap(s).containsKey(
        ("querycache", entry.toAbsolutePath.toString)),
        "the hits must have gone through the schema memo")
      sessionRef = new java.lang.ref.WeakReference(s)
    }
    serve()
    var tries = 0
    while ((sessionRef.get != null || Sessions.liveMemoSessionCount > before) &&
           tries < 50) {
      System.gc()
      Thread.sleep(50)
      tries += 1
    }
    assert(sessionRef.get == null,
      "a session that served query cache hits must be collectable once dropped")
    assert(Sessions.liveMemoSessionCount <= before,
      "a collected session must leave the memo store")
  }

  test("a dropped session that served hot-tier query cache hits is collectable") {
    // the hot tier keeps a version's rows in the session memo; neither
    // they nor their holder may reference the session, and the holder
    // must go with it
    val before = Sessions.liveMemoSessionCount
    var sessionRef: java.lang.ref.WeakReference[AnyRef] = null
    var rowsRef: java.lang.ref.WeakReference[AnyRef] = null
    def serve(): Unit = {
      val s = spark.newSession()
      import s.implicits._
      val dir = org.apache.spark.sql.graftbridge.Bridge.createTempDir("graft-memo-hot").toString
      val cfg = "memo-hot-collectable"
      sources.QueryCache.cached(s, dir, cfg)(Seq((1, "a"), (2, "b")).toDF("x", "y"))
      // collect() only, for the reason given in the spec above
      (1 to 3).foreach { _ =>
        val hit = sources.QueryCache.cached(s, dir, cfg)(sys.error("must not rebuild"))
        assert(hit.collect().length === 2)
        assert(hit.queryExecution.executedPlan.toString.contains("LocalTableScan"),
          "the hits must have been served from memory")
      }
      val entry = java.nio.file.Paths.get(dir, sources.QueryCache.cacheKey(cfg))
      // the memo value is (version name, schema, hot rows)
      val hot = Sessions.memoMap(s).get(("querycache", entry.toAbsolutePath.toString))
        .asInstanceOf[Product].productElement(2).asInstanceOf[Option[AnyRef]]
      assert(hot.isDefined, "the version must be in the hot tier")
      sessionRef = new java.lang.ref.WeakReference(s)
      rowsRef = new java.lang.ref.WeakReference(hot.get)
    }
    serve()
    var tries = 0
    while ((sessionRef.get != null || rowsRef.get != null ||
            Sessions.liveMemoSessionCount > before) && tries < 50) {
      System.gc()
      Thread.sleep(50)
      // size() expunges the collected session's entry, releasing its
      // memo map and with it the rows' holder
      Sessions.liveMemoSessionCount
      tries += 1
    }
    assert(sessionRef.get == null,
      "a session that served hot-tier hits must be collectable once dropped")
    assert(rowsRef.get == null, "its hot rows must be collectable with it")
    assert(Sessions.liveMemoSessionCount <= before,
      "a collected session must leave the memo store")
  }
}
