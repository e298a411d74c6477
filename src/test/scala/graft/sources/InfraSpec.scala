package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkFixture
import java.nio.file.Files
import org.apache.spark.sql.graftbridge.Bridge

class InfraSpec extends AnyFunSuite with SparkFixture {

  test("query cache computes once, then serves reads; refresh recomputes") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-cache").toString
    var builds = 0
    def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val cfg = """{"dims":["id"],"metrics":["count"]}"""

    val first = QueryCache.cached(spark, dir, cfg)(build)
    assert(first.count() === 2 && builds === 1)
    val second = QueryCache.cached(spark, dir, cfg)(build)
    assert(second.count() === 2 && builds === 1) // served from cache
    val refreshed = QueryCache.refresh(spark, dir, cfg)(build)
    assert(refreshed.count() === 2 && builds === 2)
    // distinct config -> distinct key -> rebuild
    QueryCache.cached(spark, dir, cfg + "x")(build)
    assert(builds === 3)
  }

  test("query cache TTL: hit within ttl, recompute after expiry") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-ttl").toString
    var builds = 0
    def build = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val cfg = """{"q":"ttl"}"""
    QueryCache.cached(spark, dir, cfg)(build)
    assert(builds === 1)
    QueryCache.cached(spark, dir, cfg, ttlMillis = 60000)(build)
    assert(builds === 1) // young entry: served
    Thread.sleep(25)
    QueryCache.cached(spark, dir, cfg, ttlMillis = 10)(build)
    assert(builds === 2) // expired: recomputed + republished
    QueryCache.cached(spark, dir, cfg, ttlMillis = 60000)(build)
    assert(builds === 2) // the republished version is fresh again
  }

  test("query cache treats a damaged current version as a miss, not an error") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-dmg").toString
    var builds = 0
    def build = { builds += 1; Seq(1).toDF("x") }
    val cfg = "dmg"
    QueryCache.cached(spark, dir, cfg)(build)
    assert(builds === 1)
    // simulate a crashed writer: the live version loses its _SUCCESS
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    val current = new String(Files.readAllBytes(entry.resolve("CURRENT")), "UTF-8").trim
    Files.delete(entry.resolve(current).resolve("_SUCCESS"))
    val back = QueryCache.cached(spark, dir, cfg)(build)
    assert(builds === 2 && back.count() === 1)
  }

  test("query cache: a crashed writer's leftovers never serve and GC reclaims them") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val dir = Bridge.createTempDir("graft-crash").toString
    var builds = 0
    def build = { builds += 1; Seq((builds, "v")).toDF("n", "v") }
    val cfg = "crash"
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    def served(s: org.apache.spark.sql.SparkSession) =
      QueryCache.cached(s, dir, cfg)(build).select("n").collect()(0).getInt(0)
    assert(served(spark) === 1 && builds === 1)
    val live = new String(Files.readAllBytes(entry.resolve("CURRENT")), "UTF-8").trim

    // both crashed writers chose names newer than the live version
    val t = System.currentTimeMillis() + 60000
    // died mid-write: data files but no _SUCCESS, no pointer swap
    val partial = s"v-$t-aa"
    Seq((98, "partial")).toDF("n", "v").write.parquet(entry.resolve(partial).toString)
    Files.delete(entry.resolve(partial).resolve("_SUCCESS"))
    // died after its version completed, before the pointer swap
    val complete = s"v-${t + 1}-bb"
    Seq((99, "complete")).toDF("n", "v").write.parquet(entry.resolve(complete).toString)
    Files.write(entry.resolve(s".CURRENT-$complete"), complete.getBytes("UTF-8"))
    // a commit marker the retired rename-free mode wrote, naming it
    Files.write(entry.resolve(s".current-$complete"), complete.getBytes("UTF-8"))

    // the pointer alone decides: the live version serves, in this
    // session and in a fresh one, and nothing rebuilds
    assert(served(spark) === 1 && served(spark.newSession()) === 1 && builds === 1)
    assert(new String(Files.readAllBytes(entry.resolve("CURRENT")), "UTF-8").trim === live)

    // past the grace period the next publish's GC deletes every leftover
    val leftovers = Seq(partial, complete, s".CURRENT-$complete", s".current-$complete")
    val old = FileTime.fromMillis(System.currentTimeMillis() - 16L * 60 * 1000)
    leftovers.foreach(n => Files.setLastModifiedTime(entry.resolve(n), old))
    QueryCache.refresh(spark, dir, cfg)(build)
    assert(served(spark) === 2 && builds === 2)
    leftovers.foreach(n => assert(!Files.exists(entry.resolve(n)), s"$n reclaimed"))
    // the superseded version is younger than the grace period: kept
    // for in-flight readers
    assert(Files.exists(entry.resolve(live).resolve("_SUCCESS")))
  }

  test("query cache single-flight: concurrent misses on one key build ONCE") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = Bridge.createTempDir("graft-sflight").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = {
      builds.incrementAndGet()
      Thread.sleep(300) // a slow build: the window where dup misses pile up
      Seq((1, "a")).toDF("id", "v")
    }
    val cfg = """{"q":"single-flight"}"""
    val n = 6
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val counts = (1 to n).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = {
          start.await()
          QueryCache.cached(spark, dir, cfg)(build).count()
        }
      })
    }
    start.countDown() // all six miss "simultaneously"
    val results = counts.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.forall(_ === 1L), "every caller sees the published result")
    assert(builds.get() === 1,
      s"six concurrent misses must compute once, computed ${builds.get()}")
    // the lease is released after publish
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    assert(!Files.exists(entry.resolve(".lease")))
  }

  test("query cache merge refresh upserts by key and keeps versioned publish") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-merge").toString
    val cfg = """{"q":"merge"}"""
    QueryCache.cached(spark, dir, cfg)(
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "x"))
    // upsert: id 2 replaced, id 3 new
    val merged = QueryCache.mergeRefresh(spark, dir, cfg, Seq("id"))(
      Seq((2L, "B", 21), (3L, "c", 30)).toDF("id", "v", "x"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq === Seq((1L, "a", 10), (2L, "B", 21), (3L, "c", 30)))
    // and a reader through the normal path sees the merged version
    val back = QueryCache.cached(spark, dir, cfg)(sys.error("must not rebuild"))
    assert(back.count() === 3)
    // missing entry degrades to delta-only publish
    val fresh = QueryCache.mergeRefresh(spark, dir, cfg + "2", Seq("id"))(
      Seq((9L, "z", 9)).toDF("id", "v", "x"))
    assert(fresh.count() === 1)
  }

  test("query cache survives a non-conforming v-* entry (manual copy)") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-badver").toString
    val cfg = """{"q":"bad-version"}"""
    var builds = 0
    def build = { builds += 1; Seq(1).toDF("x") }
    QueryCache.cached(spark, dir, cfg)(build)
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    // an operator's stray manual copy with an unparseable version name
    Files.createDirectories(entry.resolve("v-backup"))
    // refresh must still publish and read cleanly (neither resolution
    // nor GC ever throws out of the query path over a malformed name)
    val out = QueryCache.refresh(spark, dir, cfg)(build)
    assert(out.count() === 1 && builds === 2)
    val again = QueryCache.cached(spark, dir, cfg)(build)
    assert(again.count() === 1 && builds === 2)
  }

  test("query cache steals a stale lease from a dead builder") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-lease").toString
    val cfg = """{"q":"stale-lease"}"""
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    Files.createDirectories(entry)
    val lease = entry.resolve(".lease")
    Files.createFile(lease)
    // a builder that died 16 minutes ago
    Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 16L * 60 * 1000))
    var builds = 0
    def build = { builds += 1; Seq(1).toDF("x") }
    val out = QueryCache.cached(spark, dir, cfg)(build)
    assert(out.count() === 1 && builds === 1, "stale lease must not block the build")
    assert(!Files.exists(lease), "the stolen lease is released after publish")
  }

  /** `body`'s result and the Spark jobs it started on this thread:
    * the listener counts only this call's job group, so jobs of other
    * threads never count, and the bus is drained before reading. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"infraspec-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "infraspec job count")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.graftspec.ListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("query cache: a warm hit starts no Spark job; a version's schema is read once") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-warm").toString
    val cfg = """{"q":"warm-hit"}"""
    var builds = 0
    def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    QueryCache.cached(spark, dir, cfg)(build) // miss: build + publish
    val n = 5
    // the publish seeded this session's schema memo: hits resolve the
    // version and list its files, and no job runs before the action
    val (hits, warmJobs) = jobsStartedBy {
      (1 to n).map(_ => QueryCache.cached(spark, dir, cfg)(build))
    }
    assert(warmJobs === 0, s"$n warm hits started $warmJobs jobs")
    assert(builds === 1)
    hits.foreach(h => assert(h.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("a", "b")))
    // a session that did not publish infers the schema on its first
    // hit only, not once per hit
    val other = spark.newSession()
    val (_, coldJobs) = jobsStartedBy {
      (1 to n).foreach(_ => QueryCache.cached(other, dir, cfg)(build))
    }
    assert(coldJobs <= 1, s"$n hits in a fresh session started $coldJobs jobs")
    assert(builds === 1)
  }

  test("query cache schema memo is per version: new columns show on the next hit") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-pervers").toString
    val cfg = """{"q":"per-version"}"""
    def hit = QueryCache.cached(spark, dir, cfg)(sys.error("must not rebuild"))
    QueryCache.cached(spark, dir, cfg)(Seq((1, "a")).toDF("id", "v"))
    assert(hit.columns.toSeq === Seq("id", "v"))
    // a refresh whose build adds a column: the next hit reads the new
    // version with its own schema, not the memo of the old one
    QueryCache.refresh(spark, dir, cfg)(
      Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "v", "x"))
    val refreshed = hit
    assert(refreshed.columns.toSeq === Seq("id", "v", "x"))
    assert(refreshed.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1, "a", 10L), (2, "b", 20L)))
    // an out-of-band publish from another session: this session's memo
    // still names the previous version, so the hit must not use it
    QueryCache.refresh(spark.newSession(), dir, cfg)(
      Seq((3, "c", 30L, true)).toDF("id", "v", "x", "flag"))
    val outOfBand = hit
    assert(outOfBand.columns.toSeq === Seq("id", "v", "x", "flag"))
    assert(outOfBand.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq ===
      Seq((3, "c", 30L, true)))
  }

  /** The directory of the version the entry's CURRENT pointer names. */
  private def currentVersionDir(dir: String, cfg: String): String = {
    val entry = java.nio.file.Paths.get(dir, QueryCache.cacheKey(cfg))
    entry.resolve(
      new String(Files.readAllBytes(entry.resolve("CURRENT")), "UTF-8").trim).toString
  }

  /** A frame's rows as sorted strings, for an order-free comparison
    * in which -0.0 and NaN print as such. */
  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("query cache hot tier: a warm hit starts no job; count() scans no file and plans no Exchange") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-hot").toString
    val cfg = """{"q":"hot-tier"}"""
    QueryCache.cached(spark, dir, cfg)(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val (hit, hitJobs) = jobsStartedBy(
      QueryCache.cached(spark, dir, cfg)(sys.error("must not rebuild")))
    assert(hitJobs === 0, s"a warm hot-tier hit started $hitJobs jobs")
    val (n, countJobs) = jobsStartedBy(hit.count())
    assert(n === 3)
    assert(countJobs === 1, s"count() over a hot hit ran $countJobs jobs")
    // Dataset.count() plans exactly this aggregate
    val counted = hit.groupBy().count()
    assert(counted.collect()(0).getLong(0) === 3)
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("FileScan") && !plan.contains("Exchange"), plan)
    // a refresh replaces the version in the memo and returns the old
    // rows' bytes to the JVM total (other sessions only ever release)
    val held = QueryCache.HotTier.heldBytes
    assert(held > 0)
    QueryCache.refresh(spark, dir, cfg)(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    assert(QueryCache.HotTier.heldBytes <= held,
      "a replaced hot version must release its bytes")
  }

  test("query cache hot tier serves exactly the parquet rows of every column type") {
    import spark.implicits._
    import java.sql.{Date, Timestamp}
    val dir = Bridge.createTempDir("graft-hot-types").toString
    val cfg = """{"q":"hot-types"}"""
    val df = Seq(
      (1, Some(BigDecimal("12345.67")), Some(Date.valueOf("2024-02-29")),
        Some(Timestamp.valueOf("2024-03-10 02:30:00.123456")),
        Some(Seq(Some(1), None)), Some(Map("a" -> Some(1.5), "b" -> None)),
        Some((1L, "y")), Double.NaN, -0.0, None: Option[String]),
      (2, Some(BigDecimal("-0.01")), Some(Date.valueOf("1582-10-04")),
        Some(Timestamp.valueOf("1900-01-01 00:00:00")),
        Some(Seq.empty[Option[Int]]), Some(Map.empty[String, Option[Double]]),
        Some((0L, null: String)), 0.0, Double.NegativeInfinity, Some("x")),
      (3, None, None, None, None, None, None, -0.0, Double.NaN, None))
      .toDF("id", "dec", "d", "ts", "arr", "m", "st", "nan", "negzero", "s")
    QueryCache.cached(spark, dir, cfg)(df)
    val served = QueryCache.cached(spark, dir, cfg)(sys.error("must not rebuild"))
    assert(served.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "the version must be served from memory")
    val direct = spark.read.parquet(currentVersionDir(dir, cfg))
    assert(served.schema === direct.schema)
    assert(rendered(served) === rendered(direct))
    assert(rendered(served).exists(_.contains("-0.0")) && rendered(served).exists(_.contains("NaN")))
    // an empty result keeps its schema (partition 0 always writes a file)
    QueryCache.cached(spark, dir, cfg + "-empty")(df.filter(lit(false)))
    val empty = QueryCache.cached(spark, dir, cfg + "-empty")(sys.error("must not rebuild"))
    assert(empty.schema === spark.read.parquet(currentVersionDir(dir, cfg + "-empty")).schema)
    assert(empty.collect().isEmpty)
  }

  test("query cache serves a version over the hot-tier budget from parquet, same rows") {
    import spark.implicits._
    val dir = Bridge.createTempDir("graft-cold").toString
    val cfg = """{"q":"over-budget"}"""
    val saved = QueryCache.HotTier.versionBudget
    QueryCache.HotTier.versionBudget = 0L
    try {
      QueryCache.cached(spark, dir, cfg)(
        Seq((1L, "a", 0.5), (2L, "b", -0.0), (3L, null, Double.NaN)).toDF("id", "v", "x"))
      // schema from the footer, no collect: the hit starts no job
      val (hit, hitJobs) = jobsStartedBy(
        QueryCache.cached(spark, dir, cfg)(sys.error("must not rebuild")))
      assert(hitJobs === 0, s"an over-budget hit started $hitJobs jobs")
      assert(hit.queryExecution.executedPlan.toString.contains("FileScan parquet"),
        "an over-budget version must be served from parquet")
      val direct = spark.read.parquet(currentVersionDir(dir, cfg))
      assert(hit.schema === direct.schema)
      assert(rendered(hit) === rendered(direct))
      val (fresh, freshJobs) = jobsStartedBy(
        QueryCache.cached(spark.newSession(), dir, cfg)(sys.error("must not rebuild")))
      assert(freshJobs === 0, s"a fresh session's first over-budget hit started $freshJobs jobs")
      assert(rendered(fresh) === rendered(direct))
    } finally QueryCache.HotTier.versionBudget = saved
  }

  test("cache key is deterministic and config-sensitive") {
    assert(QueryCache.cacheKey("abc") === QueryCache.cacheKey("abc"))
    assert(QueryCache.cacheKey("abc") !== QueryCache.cacheKey("abd"))
    assert(QueryCache.cacheKey("abc").length === 32)
  }

  test("jdbc source round-trips via embedded Derby with predicate pushdown and striped reads") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE metrics (id BIGINT NOT NULL, name VARCHAR(32), val DOUBLE)")
      val ins = conn.prepareStatement("INSERT INTO metrics VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ins.setLong(1, i); ins.setString(2, s"m$i"); ins.setDouble(3, i * 1.5)
        ins.executeUpdate()
      }
      // whole-table read
      val df = Jdbc.read(spark, url, "metrics")
      assert(df.count() === 100)
      // filters must reach the remote engine (PushedFilters in the scan)
      val filtered = df.filter(col("id") > 90)
      assert(filtered.count() === 10)
      val plan = filtered.queryExecution.executedPlan.toString
      // Derby upper-cases identifiers: the pushed filter reads GreaterThan(ID,90)
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(ID,90)"),
        s"filter must push to the JDBC source, got:\n$plan")
      // striped parallel read: one range scan per partition
      val striped = Jdbc.readPartitioned(spark, url, "metrics", "id", 1L, 100L, 4)
      assert(striped.rdd.getNumPartitions === 4)
      assert(striped.count() === 100)
      assert(striped.agg(sum("id")).collect()(0).getLong(0) === 5050L)
      // pushed query: only the result set crosses the wire
      val q = Jdbc.readQuery(spark, url,
        "SELECT name, val FROM metrics WHERE id <= 3")
      assert(q.collect().map(_.getAs[String]("NAME")).sorted === Array("m1", "m2", "m3"))
      // IN-list pushdown (reference col_to_string + remote WHERE):
      // build the list from one frame, push it into the remote query
      import spark.implicits._
      val wanted = Seq("m5", "m7", "it's").toDF("name")
      val inList = graft.operators.Exprs.colToInList(wanted, "name")
      assert(inList === "'m5','m7','it''s'") // quotes doubled
      val pushed = Jdbc.readQuery(spark, url,
        s"SELECT id FROM metrics WHERE name IN ($inList)")
      assert(pushed.collect().map(_.getAs[Long]("ID")).sorted === Array(5L, 7L))
    } finally conn.close()
  }

  test("jdbc retry: N-1 transient failures then success yields data; permanent fails fast") {
    // flaky read against embedded Derby: the first two attempts die
    // with a network-ish IOException (the connectors.py poll-with-
    // backoff regime), the third runs the real pushed query
    val url = "jdbc:derby:memory:graftretry;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE t (id BIGINT NOT NULL)")
      (1 to 5).foreach(i => st.execute(s"INSERT INTO t VALUES ($i)"))
      var calls = 0
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val df = Jdbc.withRetry(attempts = 4, baseDelayMs = 100,
          sleep = sleeps.append(_)) {
        calls += 1
        if (calls < 3) throw new java.io.IOException("connection reset")
        Jdbc.readQuery(spark, url, "SELECT id FROM t")
      }
      assert(calls === 3)
      assert(df.count() === 5)
      assert(sleeps.toSeq === Seq(100L, 200L), "exponential backoff between tries")

      // exhausted attempts rethrow the last failure
      var always = 0
      val ex = intercept[java.io.IOException] {
        Jdbc.withRetry(attempts = 3, sleep = _ => ()) {
          always += 1; throw new java.io.IOException("down")
        }
      }
      assert(always === 3 && ex.getMessage === "down")

      // permanent errors (syntax/auth → non-transient) never retry
      var perm = 0
      intercept[java.sql.SQLNonTransientException] {
        Jdbc.withRetry(attempts = 4, sleep = _ => ()) {
          perm += 1; throw new java.sql.SQLNonTransientException("bad syntax")
        }
      }
      assert(perm === 1, "non-retryable must fail fast")

      // retryable classification walks the cause chain (Spark wraps
      // driver-side failures)
      assert(Jdbc.defaultRetryable(new RuntimeException(
        new java.sql.SQLTransientException("throttled"))))
      assert(!Jdbc.defaultRetryable(new RuntimeException("plain")))
    } finally conn.close()
  }

  test("rest source: sequential cursor pagination stops on the last page") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/items", { exchange =>
        val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
        val page = q.split("=").lift(1).map(_.toInt).getOrElse(0)
        val body =
          if (page >= 3) "[]"
          else (page * 10 until page * 10 + 10)
            .map(i => s"""{"id":$i,"name":"item$i"}""").mkString("[", ",", "]")
        val bytes = body.getBytes("UTF-8")
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(200, bytes.length)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      })
      server.start()
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/items"
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      // cursor walk: next page until the API returns an empty array
      val df = Rest.readPaged(spark, s"$base?page=0", schema,
        nextUrl = (url, body) =>
          if (body.trim == "[]") None
          else {
            val p = url.split("page=")(1).toInt
            Some(s"$base?page=${p + 1}")
          })
      assert(df.count() === 30)
      assert(df.agg(min("id"), max("id")).collect()(0).toSeq === Seq(0L, 29L))
      // parallel offset walk: executor-side fetches, same rows
      val par = Rest.readPagedParallel(spark, p => s"$base?page=$p", schema, wave = 2)
      assert(par.count() === 30)
      assert(par.select("id").distinct().count() === 30)
      // an empty page mid-wave must not truncate later pages: wave 4
      // fetches pages 0-3 where page 3 is empty but 0-2 carry data —
      // and the scan keeps going until a FULLY empty wave
      val par2 = Rest.readPagedParallel(spark, p => s"$base?page=$p", schema, wave = 4)
      assert(par2.count() === 30)
    } finally server.stop(0)
  }

  test("rest source retries a transiently failing endpoint") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      server.createContext("/flaky", { exchange =>
        if (hits.incrementAndGet() < 3) {
          exchange.sendResponseHeaders(503, -1) // two transient failures
        } else {
          val b = """{"ok":true}""".getBytes("UTF-8")
          exchange.sendResponseHeaders(200, b.length)
          exchange.getResponseBody.write(b)
        }
        exchange.close()
      })
      server.start()
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/flaky"
      val body = Rest.get(url, attempts = 3, backoffMs = 10)
      assert(body === """{"ok":true}""")
      assert(hits.get() === 3)
      // exhausted retries surface the failure loudly
      hits.set(-1000)
      intercept[java.io.IOException](Rest.get(url, attempts = 2, backoffMs = 1))
    } finally server.stop(0)
  }

  test("rest source fails fast on 4xx — no retry burn on a wrong request") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      server.createContext("/gone", { exchange =>
        hits.incrementAndGet()
        exchange.sendResponseHeaders(404, -1)
        exchange.close()
      })
      server.start()
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/gone"
      intercept[Rest.HttpClientError](Rest.get(url, attempts = 3, backoffMs = 10))
      assert(hits.get() === 1, "a 404 must not be retried")
    } finally server.stop(0)
  }

  test("jdbc write appends and reads back through the same source") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftwrite;create=true"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Jdbc.write(df, url, "sink_t")
    Jdbc.write(Seq((3L, "c")).toDF("id", "v"), url, "sink_t") // append mode
    val back = Jdbc.read(spark, url, "sink_t")
    assert(back.count() === 3)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 6L)
  }

  test("partitioned parquet sink prunes partitions on a date predicate") {
    val dir = Bridge.createTempDir("graft-part").toString
    val events = Tables.events(spark, sfDir)
    Tables.writePartitionedByDay(events, "ts", s"$dir/events_by_day")
    val back = spark.read.parquet(s"$dir/events_by_day")
      .filter(col("p_day") === "2024-01-15")
    // partition pruning shows up as PartitionFilters in the scan plan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_day"))
    val expected = events.filter(to_date(col("ts")) === "2024-01-15").count()
    assert(back.count() === expected)
  }

  test("compact rewrites a fragmented table into size-targeted files") {
    val dir = Bridge.createTempDir("graft-compact").toString
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(64).write.parquet(s"$dir/frag")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/frag") === 64)
    val files = Tables.compact(spark, s"$dir/frag", s"$dir/compacted",
      targetFileBytes = 64L * 1024)
    assert(parquetFiles(s"$dir/compacted") === files)
    assert(files < 64 && files >= 1)
    // content identical
    val a = spark.read.parquet(s"$dir/frag")
    val b = spark.read.parquet(s"$dir/compacted")
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("orc sink/source round-trips with predicate pushdown and pruning") {
    val dir = Bridge.createTempDir("graft-orc").toString
    val orders = Tables.orders(spark, sfDir)
    Tables.writeOrc(orders, s"$dir/orders_orc")
    val back = Tables.readOrc(spark, s"$dir/orders_orc")
      .filter(col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      "the price predicate must reach the ORC scan")
    assert(!plan.contains("o_custkey"), "unused columns must not be read")
    assert(back.count() ===
      orders.filter(col("o_totalprice") > 100000.0).count())
  }

  test("bucketed tables join with zero exchange (co-located join)") {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    Tables.writeBucketed(orders, "graft_orders_b", "o_custkey", 8)
    Tables.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"),
      "graft_customer_b", "o_custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle, got:\n$plan")
      // and it still computes the right thing
      val expected = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey").count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_customer_b")
    }
  }

  test("zValue2 matches a reference bit interleave; z-order layout clusters BOTH dims") {
    // 1) the expression is the textbook Morton interleave
    def refZ(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(j =>
        (((x >> j) & 1L) << (2 * j)) | (((y >> j) & 1L) << (2 * j + 1))).sum
    import spark.implicits._
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L),
      (512L, 17L), (999L, 1L))
    val got = pts.toDF("x", "y")
      .withColumn("z", graft.operators.Exprs.zValue2(col("x"), col("y"), 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) === refZ(x, y, 10), s"($x,$y)") }

    // 2) layout property: z-ordered files cover small rectangles in
    // BOTH dimensions; a plain single-column sort leaves the second
    // dimension spanning the full range in every file
    val dir = Bridge.createTempDir("graft-zorder").toString
    val orders = Tables.orders(spark, sfDir)
      .select((col("o_custkey") % 1024).as("x"), (col("o_orderkey") % 1024).as("y"))
    Tables.writeZOrdered(orders, s"$dir/z", "x", "y", bits = 10, files = 8)
    orders.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/plain")
    def meanRange(path: String, colName: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(colName)), max(col(colName))).collect()(0)
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      ranges.sum / ranges.length / 1024.0
    }
    val zx = meanRange(s"$dir/z", "x"); val zy = meanRange(s"$dir/z", "y")
    val px = meanRange(s"$dir/plain", "x"); val py = meanRange(s"$dir/plain", "y")
    info(f"z-order mean file range: x=$zx%.2f y=$zy%.2f; x-sort: x=$px%.2f y=$py%.2f")
    assert(zx < 0.6 && zy < 0.6, "z-order must bound BOTH dims per file")
    assert(py > 0.9, "single-column sort leaves dim 2 unclustered (the contrast)")
  }

  test("grid source: header row, ragged padding, duplicate-name disambiguation") {
    val grid = Seq(
      Seq("month", "pageviews", "pageviews"),
      Seq("2024-01", "100", "90"),
      Seq("2024-02", "120")) // ragged: missing last cell
    val df = CsvIngest.fromGrid(spark, grid)
    assert(df.columns.toSeq === Seq("month", "pageviews", "pageviews_1"))
    val rows = df.orderBy("month").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(2) === "90")
    assert(rows(1).getString(1) === "120")
    assert(rows(1).isNullAt(2)) // padded
    // adversarial: a literal "a_1" header cell must not collide with
    // the rename of a later duplicate "a"
    val tricky = CsvIngest.fromGrid(spark, Seq(Seq("a", "a_1", "a")))
    assert(tricky.columns.toSeq === Seq("a", "a_1", "a_2"))
    assert(tricky.columns.distinct.length === tricky.columns.length)
  }

  test("csv ingest round-trips with explicit schema and normalization") {
    val dir = Bridge.createTempDir("graft-csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "name,qty,region\n  Widget  A ,5, EAST \nGadget,7,west\n,3,\n")
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("qty", IntegerType),
      StructField("region", StringType)))
    val df = CsvIngest.normalize(
      CsvIngest.readCsv(spark, s"$dir/in.csv", schema), lowerCols = Seq("region"))
    val rows = df.orderBy(col("qty")).collect()
    assert(rows.length === 3)
    assert(rows(1).getAs[String]("name") === "Widget A") // trimmed + collapsed
    assert(rows(1).getAs[String]("region") === "east")   // lowercased
    assert(rows(0).getAs[String]("name") === null)       // empty -> null
    assert(rows(2).getAs[Int]("qty") === 7)
    // sink round-trip
    CsvIngest.writeCsv(df, s"$dir/out")
    val back = CsvIngest.readCsv(spark, s"$dir/out", schema)
    assert(back.count() === 3)
  }

  test("IVF-PQ index: codes-only partitions; served results match an integer replay") {
    val path = Bridge.createTempDir("graft-ivfpq").toString
    val (k, m, pqK) = (16, 8, 16)
    IvfIndex.buildPq(spark, sfDir, path, k = k, iters = 5, m = m,
      pqK = pqK, pqIters = 3)

    // the cell partitions store codes, never vectors — the PQ claim
    val corpusPq = spark.read.parquet(s"$path/corpus_pq")
    assert(corpusPq.columns.toSet === Set("vec_id", "codes", "cell"))

    // one directory per cell, and a literal cell filter prunes at the
    // partition level: the scan lists exactly the named cells
    val cellDirs = new java.io.File(s"$path/corpus_pq").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > 2)
    val pruned = corpusPq.filter(col("cell").isin(0, 1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell filter must prune partitions, got:\n$plan")
    assert(pruned.select("cell").distinct().collect().map(_.getInt(0)).toSet === Set(0, 1))

    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
    val served = IvfIndex.probePq(spark, path, probes,
      nProbeCells = 6, shortlist = 50, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSet

    // local replay from the stored models — all-integer, so exact
    val cents = IvfIndex.readCentroids(spark, path)
    val books = IvfIndex.readCodebooks(spark, path)
    val q = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(x =>
          math.floor(x.toDouble * graft.operators.Clustering.QuantScale).toLong).toArray)
      .toMap
    val dim = 64; val dsub = dim / m
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    def subDist(v: Array[Long], s: Int, cent: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < dsub) { val t = v(s * dsub + i) - cent(i); d += t * t; i += 1 }
      d
    }
    def nearestCells(v: Array[Long], p: Int): Seq[Int] =
      cents.zipWithIndex.map { case (c, i) => (d2(v, c), i) }
        .sortBy { case (d, i) => (d, i) }.take(p).map(_._2).toSeq
    val cellOf = q.map { case (id, v) => id -> nearestCells(v, 1).head }
    val codesOf = q.map { case (id, v) =>
      id -> Array.tabulate(m)(s =>
        books(s).zipWithIndex.minBy { case (c, i) => (subDist(v, s, c), i) }._2)
    }
    val expected = q.keys.filter(_ % 50 == 0).flatMap { pid =>
      val pv = q(pid)
      val myCells = nearestCells(pv, 6).toSet
      val cand = q.keys.filter(n => n != pid && myCells(cellOf(n))).toSeq
      val sl = cand.map { n =>
        (n, (0 until m).map(s => subDist(pv, s, books(s)(codesOf(n)(s)))).sum)
      }.sortBy { case (n, adc) => (adc, n) }.take(50)
      sl.map { case (n, adc) => (n, adc, d2(pv, q(n))) }
        .sortBy { case (n, _, d) => (d, n) }.take(5)
        .zipWithIndex.map { case ((n, adc, d), i) => (pid, n, i + 1, adc, d) }
    }.toSet
    assert(served === expected)
    assert(served.nonEmpty)
  }

  test("q88's index is per session: two sessions build private dirs and serve alike") {
    // fresh sessions start with empty memo maps: no trained centroid
    // model, no q88 artifact
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    Seq(s1, s2).foreach(s => assert(graft.Sessions.memoMap(s).isEmpty))
    val p1 = IvfIndex.ensureQ88Built(s1, sfDir)
    val p2 = IvfIndex.ensureQ88Built(s2, sfDir)
    assert(p1 !== p2, "each session builds its own artifact dir")
    assert(IvfIndex.ensureQ88Built(s1, sfDir) === p1, "a session reuses its artifact")
    def rows(s: org.apache.spark.sql.SparkSession): Seq[String] =
      IvfIndex.q88IvfpqProbe(s, sfDir).collect().map(_.toString).toSeq.sorted
    val served1 = rows(s1)
    assert(served1.nonEmpty)
    assert(rows(s2) === served1)
    // another session's artifact going away (as a concurrent
    // overwrite would make it) leaves this session's serve intact
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p1))
    assert(rows(s2) === served1, "session 2 serves from its own dir")
  }
}
