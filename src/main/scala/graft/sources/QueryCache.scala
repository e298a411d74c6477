package graft.sources

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** Result cache keyed by a deterministic query-config hash — graft's
  * re-expression of the reference's cached-query layer
  * (connectors.py:367-452: cache key from the query config dict, S3
  * object per key, a cache_ttl age check (connectors.py:370-380), and
  * lock-protected refresh; dash_app.py:1134-1138).
  *
  * Spark-first shape: a cache entry is a directory of VERSIONED
  * parquet datasets plus a CURRENT pointer file:
  *
  *   cacheDir/<key>/v-<millis>-<nonce>/   parquet + _SUCCESS
  *   cacheDir/<key>/CURRENT              name of the live version
  *
  * Writers publish a complete new version directory and then swap the
  * CURRENT pointer with an atomic rename — readers always see either
  * the old complete version or the new complete version, never an
  * absent or partial dataset, and concurrent writers can't collide
  * (each writes its own version; last pointer-swap wins). Staleness =
  * version age vs. `ttlMillis` (the reference's cache_ttl, default
  * 30 days); expired entries are recomputed on read. Superseded
  * versions are garbage-collected after a grace period so in-flight
  * readers of the old version finish unharmed.
  *
  * The protocol's one requirement of the file system is an atomic
  * same-directory rename (POSIX `rename(2)`, `Files.move` with
  * ATOMIC_MOVE): the pointer swap is the commit. A writer that dies
  * before it (version dir without `_SUCCESS`, or complete but never
  * named by CURRENT) leaves the previous version live; GC reclaims
  * its leftovers after the grace period.
  *
  * READ COST: every read re-runs the version resolution (the CURRENT
  * lookup, the _SUCCESS and TTL checks). The session memo then
  * keeps, per entry, the last version opened: its name, its schema and,
  * when it is small, its rows (the hot tier).
  *  - A hit on a hot version opens no file and starts no job before the
  *    caller's action. It is served as a one-partition local relation,
  *    so a global aggregate, sort or limit over it plans no Exchange and
  *    runs one job.
  *  - A hit on a version over budget lists the version's files and
  *    scans its parquet with the memoized schema, also without a job
  *    before the action.
  *  - A version's first open in a session (normally its publish) reads
  *    the schema from one file footer on the driver and, if the version
  *    fits, collects its rows: at most one job.
  * Keying the memo by version name is safe because version dirs are
  * write-once: a `v-<millis>-<nonce>` name is never rewritten, and GC
  * only deletes superseded versions.
  *
  * HOT-TIER BUDGETS, both derived from the heap (`Runtime.maxMemory`):
  *  - per version, heap/512 (8 MB at a 4 GB heap): a version is
  *    collected only if its parquet data files fit, and kept only if
  *    its collected rows fit too;
  *  - per JVM, heap/64, summed over every session's hot versions. It is
  *    JVM-wide because a dropped session is not always collected (one
  *    that ran a shuffle stays reachable from Spark's shuffle state), so
  *    a per-session bound alone would not bound memory.
  * A version that does not fit is served from parquet as above. Its
  * bytes return to the JVM total when a newer version replaces it in
  * the memo or when its holder is garbage-collected with the session.
  */
object QueryCache {

  /** Default entry lifetime: 30 days (the reference's cache_ttl). */
  val DefaultTtlMillis: Long = 30L * 24 * 3600 * 1000

  /** Grace before deleting a superseded version (in-flight readers). */
  private val GcGraceMillis: Long = 15L * 60 * 1000

  /** How long a .lease marks a build as in-flight before another
    * process may steal it (a cache build is a full Spark job). */
  private val LeaseMillis: Long = 15L * 60 * 1000

  /** How long a lease loser polls for the holder's publish before
    * giving up and building anyway (duplicate work beats deadlock). */
  private val LeaseWaitMillis: Long = 10L * 60 * 1000

  /** Per-entry in-JVM build locks: N concurrent misses on one entry
    * in one application compute ONCE (the reference's lock-protected
    * refresh, connectors.py:367-452) — at scale a popular dashboard
    * key must not launch the same multi-hour job N times. Keyed by
    * the FULL entry path (distinct cacheDirs never contend), one per
    * distinct entry with NO false sharing — a stripe table would let
    * an unrelated key block behind another's multi-hour build. The
    * table grows by one small monitor object per distinct config per
    * JVM lifetime: bounded by the query surface, not the data. */
  private val entryLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(entry: Path): Object =
    entryLocks.computeIfAbsent(entry.toAbsolutePath.toString, _ => new Object)

  /** Deterministic cache key from a canonical config string. Callers
    * serialize their query config (sorted keys!) into `config`. */
  def cacheKey(config: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(config.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(32)

  /** Read-through cache: serves the CURRENT version if present,
    * complete, and younger than `ttlMillis`; otherwise computes
    * `build`, publishes it as a new version, and reads it back.
    *
    * Refresh is SINGLE-FLIGHT: concurrent misses on the same key are
    * serialized behind a per-key in-JVM lock with a re-check, so only
    * the first computes — the rest read its published version. Across
    * JVMs a best-effort `.lease` file extends the same contract:
    * losers poll for the holder's publish, then (lease expiry) build
    * themselves rather than deadlock. */
  def cached(spark: SparkSession, cacheDir: String, config: String,
             ttlMillis: Long = DefaultTtlMillis)
      (build: => DataFrame): DataFrame = {
    val entry = Paths.get(cacheDir, cacheKey(config))
    def live: Option[Path] = currentVersion(entry)
      .filter(v => System.currentTimeMillis() - versionMillis(v) <= ttlMillis)
    live match {
      case Some(v) => open(spark, entry, v)
      case None =>
        lockFor(entry).synchronized {
          // double-check: the build we queued behind may be our answer
          live match {
            case Some(v) => open(spark, entry, v)
            case None => publishSingleFlight(spark, entry, ttlMillis, build)
          }
        }
    }
  }

  /** Force refresh: recompute and atomically repoint CURRENT. */
  def refresh(spark: SparkSession, cacheDir: String, config: String)
      (build: => DataFrame): DataFrame =
    publish(spark, Paths.get(cacheDir, cacheKey(config)), build)

  /** Incremental refresh: UPSERT `delta` into the cached dataset by
    * `mergeKey` (new rows win over cached rows with the same key) and
    * publish the merged result as a new version — the reference's
    * scheduled incremental refresh shape, where a periodic job appends
    * the latest day instead of recomputing the whole window. Readers
    * keep the versioned-publish guarantees: they see the old complete
    * dataset or the new complete dataset, never a half-merge. A
    * missing/expired entry degrades to publishing `delta` alone. */
  def mergeRefresh(spark: SparkSession, cacheDir: String, config: String,
      mergeKey: Seq[String], ttlMillis: Long = DefaultTtlMillis)
      (delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val entry = Paths.get(cacheDir, cacheKey(config))
    // the read-modify-write must be exclusive END TO END or a
    // concurrent merge reads the same base version and the losing
    // CURRENT swap silently drops a delta: in-JVM via the entry lock,
    // cross-process via the .lease held across read+build+publish
    // (cached() only leases the publish because its build is
    // idempotent; a merge is not). A waiter that can't get the lease
    // by the deadline proceeds anyway — duplicate-base merge risk
    // beats deadlock behind a dead holder.
    lockFor(entry).synchronized {
      Files.createDirectories(entry)
      val deadline = System.currentTimeMillis() + LeaseWaitMillis
      var leased = tryAcquireLease(entry)
      while (!leased && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        leased = tryAcquireLease(entry)
      }
      try {
        val merged = currentVersion(entry)
          .filter(v => System.currentTimeMillis() - versionMillis(v) <= ttlMillis)
          .map { v =>
            val current = open(spark, entry, v)
            // anti-join keeps cached rows whose key is NOT replaced
            current.join(delta.select(mergeKey.map(col): _*).distinct(),
                mergeKey, "left_anti")
              .unionByName(delta)
          }
          .getOrElse(delta)
        publish(spark, entry, merged)
      } finally {
        if (leased) {
          try Files.deleteIfExists(entry.resolve(".lease"))
          catch { case _: java.io.IOException => }
        }
      }
    }
  }

  /** The live, complete version dir the CURRENT pointer names, if
    * any. A version is only live if its write completed (_SUCCESS); a
    * pointer to a damaged or missing dir reads as a miss, not an error. */
  private def currentVersion(entry: Path): Option[Path] = {
    val ptr = entry.resolve("CURRENT")
    if (!Files.exists(ptr)) None
    else {
      val name = new String(Files.readAllBytes(ptr), "UTF-8").trim
      val v = entry.resolve(name)
      if (name.startsWith("v-") && Files.exists(v.resolve("_SUCCESS"))) Some(v)
      else None
    }
  }

  /** Open a resolved, complete version dir: the one read site of
    * every cache path (hit, locked re-check, lease poll, merge base,
    * publish read-back). A version the session memo names is served
    * from the memo (READ COST in the object doc); any other is loaded
    * and replaces the entry, releasing the replaced version's rows. The
    * value holds no Dataset or session: the weakly keyed memo must
    * never pin the session it belongs to. */
  private def open(spark: SparkSession, entry: Path, v: Path): DataFrame = {
    val memo = Sessions.memoMap(spark)
    val key = ("querycache", entry.toAbsolutePath.toString)
    val name = v.getFileName.toString
    val opened = memo.get(key) match {
      case o: Opened if o.name == name => o
      case _ =>
        val o = load(spark, v)
        memo.put(key, o) match {
          case old: Opened => old.hot.foreach(_.release())
          case _ =>
        }
        o
    }
    opened.hot match {
      case Some(h) =>
        Bridge.localFrame(spark, opened.schema,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(h.rows)).coalesce(1)
      case None => spark.read.schema(opened.schema).parquet(v.toString)
    }
  }

  /** What the session memo keeps for an entry: the version last
    * opened, its schema and, if admitted to the hot tier, its rows. */
  private final case class Opened(name: String, schema: StructType,
      hot: Option[HotRows])

  /** A version's first open in a session: the schema from one data
    * file's footer (driver-side, no job) and, when the data files fit
    * the hot-tier budgets, one collect of its rows. */
  private def load(spark: SparkSession, v: Path): Opened = {
    // Spark's own hidden-file rule skips _SUCCESS and the .crc files
    val files = children(v).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(p)
    }.sortBy(_.getFileName.toString)
    require(files.nonEmpty, s"query cache version $v holds no parquet data file")
    val schema = Bridge.parquetSchema(spark, files.head.toString)
    val hot =
      if (!HotTier.mayCollect(files.map(Files.size).sum)) None
      else HotTier.admit(Bridge.collectUnsafe(spark.read.schema(schema).parquet(v.toString)))
    Opened(v.getFileName.toString, schema, hot)
  }

  /** Rows of one hot version. `bytes` stays counted in the JVM total
    * until [[release]] or until the holder is garbage-collected,
    * whichever comes first. */
  private[sources] final class HotRows(val rows: Array[UnsafeRow], bytes: Long) {
    private val cleanable = HotTier.register(this, bytes)
    def release(): Unit = cleanable.clean()
  }

  /** The hot tier's budgets and JVM-wide byte count (HOT-TIER BUDGETS
    * in the object doc). */
  private[sources] object HotTier {
    private val heap = Runtime.getRuntime.maxMemory()

    /** Largest version kept in memory, in bytes. Mutable only so that a
      * spec can put a small version over it. */
    @volatile private[sources] var versionBudget: Long = heap / 512

    /** Bytes of hot rows all sessions of this JVM may hold together. */
    val totalBudget: Long = heap / 64

    /** Per-row heap cost beyond the row's bytes: the UnsafeRow object
      * and its byte array's header. */
    private val RowOverhead = 64L

    private val held = new java.util.concurrent.atomic.AtomicLong(0L)
    private val cleaner = java.lang.ref.Cleaner.create()

    def heldBytes: Long = held.get

    /** Whether a version with `parquetBytes` of data files is worth a
      * collect: it fits the per-version budget and what the JVM total
      * has left. */
    def mayCollect(parquetBytes: Long): Boolean =
      parquetBytes <= versionBudget && held.get + parquetBytes <= totalBudget

    /** Collected rows, kept if their heap bytes fit both budgets. */
    def admit(rows: Array[UnsafeRow]): Option[HotRows] = {
      val bytes = rows.iterator.map(_.getSizeInBytes + RowOverhead).sum
      if (bytes > versionBudget) return None
      var cur = held.get
      while (cur + bytes <= totalBudget && !held.compareAndSet(cur, cur + bytes))
        cur = held.get
      if (cur + bytes > totalBudget) None else Some(new HotRows(rows, bytes))
    }

    /** The action must not reference `holder`, or it is never run. */
    def register(holder: AnyRef, bytes: Long): java.lang.ref.Cleaner.Cleanable =
      cleaner.register(holder, () => { held.addAndGet(-bytes); () })
  }

  /** The entries of a directory. */
  private def children(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try {
      val b = Seq.newBuilder[Path]
      listing.forEach(p => b += p)
      b.result()
    } finally listing.close()
  }

  /** Millis encoded in a v-<millis>-<nonce> name; malformed names
    * (a manual copy, a truncated write) read as infinitely old, so
    * readers treat them as expired — never an exception out of a cache
    * internals path. */
  private def versionMillis(v: Path): Long =
    try v.getFileName.toString.split("-")(1).toLong
    catch { case _: RuntimeException => 0L } // epoch: ancient, not overflow-prone

  /** One attempt to take the entry's `.lease` file: atomic create, or
    * steal-by-mtime when the holder looks dead. Best-effort: an IO
    * failure other than "already exists" reads as acquired (the lease
    * must never block correctness, only duplicate work). */
  private def tryAcquireLease(entry: Path): Boolean = {
    val lease = entry.resolve(".lease")
    val now = System.currentTimeMillis()
    try { Files.createFile(lease); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        try {
          if (now - Files.getLastModifiedTime(lease).toMillis > LeaseMillis) {
            // holder died mid-build: steal by refreshing the mtime
            Files.setLastModifiedTime(lease,
              java.nio.file.attribute.FileTime.fromMillis(now))
            true
          } else false
        } catch { case _: java.io.IOException => false }
      case _: java.io.IOException => true // lease is best-effort only
    }
  }

  /** Cross-JVM single-flight: take the `.lease` file (atomic create,
    * stale leases stolen by mtime), build+publish, release. A loser
    * polls for a fresh CURRENT from the lease holder and only falls
    * back to building after the wait budget — the cross-process
    * equivalent of the reference's get_lock-protected refresh. */
  private def publishSingleFlight(spark: SparkSession, entry: Path,
      ttlMillis: Long, build: => DataFrame): DataFrame = {
    Files.createDirectories(entry)
    val lease = entry.resolve(".lease")
    val acquired = tryAcquireLease(entry)
    if (acquired) {
      try publish(spark, entry, build)
      finally {
        try Files.deleteIfExists(lease)
        catch { case _: java.io.IOException => }
      }
    } else {
      // another process is building: poll for its publish
      val deadline = System.currentTimeMillis() + LeaseWaitMillis
      var result: Option[Path] = None
      while (result.isEmpty && System.currentTimeMillis() < deadline &&
             Files.exists(lease)) {
        Thread.sleep(200)
        result = currentVersion(entry)
          .filter(v => System.currentTimeMillis() - versionMillis(v) <= ttlMillis)
      }
      result
        .orElse(currentVersion(entry)
          .filter(v => System.currentTimeMillis() - versionMillis(v) <= ttlMillis))
        .map(open(spark, entry, _))
        .getOrElse(publish(spark, entry, build)) // holder never published
    }
  }

  /** Write a new complete version, commit it, GC old. Commit order:
    * (1) version data written DIRECTLY under its final name; liveness
    * is gated by _SUCCESS (written last by the committer), so a partial
    * write is never resolvable; (2) the CURRENT pointer swap, an atomic
    * same-directory rename and the one commit record. A crash before
    * (2) leaves the previous version live and this one GC-able. */
  private def publish(spark: SparkSession, entry: Path, build: => DataFrame): DataFrame = {
    Files.createDirectories(entry)
    val vName = s"v-${System.currentTimeMillis()}-${(System.nanoTime() % 0xFFFFFF).toHexString}"
    build.write.mode("overwrite").parquet(entry.resolve(vName).toString)
    val ptrTmp = entry.resolve(s".CURRENT-$vName")
    Files.write(ptrTmp, vName.getBytes("UTF-8"))
    Files.move(ptrTmp, entry.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    gc(entry, vName)
    open(spark, entry, entry.resolve(vName))
  }

  /** Delete every child of the entry other than `keep`, CURRENT and
    * .lease once it was last modified more than the grace period ago:
    * superseded versions, a crashed writer's version dir or pointer
    * temp file, and any other leftover. Best-effort: GC failure never
    * fails the query (but only IO failures are absorbed — anything else
    * is a real bug and propagates). */
  private def gc(entry: Path, keep: String): Unit =
    try {
      val now = System.currentTimeMillis()
      children(entry).foreach { p =>
        val name = p.getFileName.toString
        if (name != keep && name != "CURRENT" && name != ".lease" &&
            now - Files.getLastModifiedTime(p).toMillis > GcGraceMillis)
          deleteRecursively(p)
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}
