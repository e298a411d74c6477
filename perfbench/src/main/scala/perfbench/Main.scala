package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{LoadSentinel, Sessions, SparkEntry}
import graft.sources.QueryCache

/** One closed-loop benchmark run: a single client thread issues the
  * workload's next op only after the previous one completed.
  *
  * Every op ends with the full-width [[Digest]] action, compared with
  * the oracle-verified reference digest of its query; a mismatch or an
  * exception is a failed op. Results go to `--out` as one JSON object
  * (see perfbench/README.md for every metric). */
object Main {

  /** Sub-second BI/OLAP queries (HelixQuery, WikiMetadata, TrendingWikis). */
  val BiShort: Seq[String] = names(
    (1 to 16) ++ (33 to 39) ++ Seq(55, 56, 60, 65, 71, 77, 78))
  /** The cached dashboards: the first bi_short queries, in Zipf rank order. */
  val Dashboards: Seq[String] = BiShort.take(6)
  val Workloads = Seq("bi_short", "cache_serve")

  private def names(ids: Seq[Int]): Seq[String] = ids.map { i =>
    val prefix = f"q$i%02d_"
    SparkEntry.queries.keys.find(_.startsWith(prefix)).getOrElse(
      throw new IllegalStateException(s"no SparkEntry query $prefix*"))
  }

  final case class Op(id: Int, kind: String, query: String, traced: Boolean,
      wallNs: Long, bookNs: Long, ok: Boolean, phasesMs: Map[String, Long]) {
    def ms: Double = wallNs / 1e6
  }

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
      .withDefault(k => throw new IllegalArgumentException(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val corpus = a("corpus")
    val cpus = a("cpus").toInt

    val calibT0 = System.nanoTime()
    val loadBefore = LoadSentinel.loadAvg
    val calibBefore = LoadSentinel.calib3
    val calibMs = (System.nanoTime() - calibT0) / 1e6

    val sessT0 = System.nanoTime()
    val spark = Sessions.local(cpus.toString, periodicGc = "30min")
    val sessionMs = (System.nanoTime() - sessT0) / 1e6
    val r = new Runner(spark, corpus, Reference.load(Paths.get(a("reference"))),
      Paths.get(a("cache-dir")), trace)

    // ---- set-up: cache_serve fills the cache and reads each dashboard
    // once; bi_short times each query's first run in the session ----
    if (workload == "cache_serve")
      for (_ <- 1 to 2; q <- Dashboards) r.setup(r.read(q, traced = false))

    // ---- timed closed loop: whole passes / rounds until `seconds` ----
    val rng = new Random(seed)
    val ops = mutable.ArrayBuffer.empty[Op]
    val firstOpMs = System.currentTimeMillis()
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (seconds * 1e9).toLong
    val readsBefore = (r.reads, r.hits)
    val steal0 = Proc.stealJiffies
    val cpuLoop0 = Proc.cpuNs
    workload match {
      case "bi_short" =>
        // each pass runs every query once, in a seeded order
        while (System.nanoTime() < deadline)
          rng.shuffle(BiShort).foreach(q => ops += r.query(q, trace))
      case "cache_serve" =>
        // each round refreshes every dashboard once, in rank order; each
        // refresh follows nine Zipf(s=1) reads
        val zipf = new Zipf(Dashboards.size, rng)
        while (System.nanoTime() < deadline)
          for (q <- Dashboards) {
            for (_ <- 1 to 9) ops += r.read(Dashboards(zipf.next()), trace)
            ops += r.refresh(q, trace)
          }
    }
    val loopSec = (System.nanoTime() - loopT0) / 1e9
    val loopCpuS = (Proc.cpuNs - cpuLoop0) / 1e9
    val steal1 = Proc.stealJiffies
    val stealRatio = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)

    val rssMb = Proc.peakRssMb
    val loadAfter = LoadSentinel.loadAvg
    val calibAfter = LoadSentinel.calib3
    if (trace) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

    val latencyOps = ops.filter(_.kind != "refresh").toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", (firstOpMs - jvmStartMs - calibMs) / 1000.0, "s"),
        ("ops_per_s", ops.size / loopSec, "1/s"),
        ("latency_p50_ms", Stats.quantile(latencyOps.map(_.ms), 0.5), "ms"),
        ("peak_rss_mb", rssMb, "MB"))
      else Layers.metrics(ops.toSeq, r.spans.toSeq, r.listener, cpus, sessionMs,
        r.reads - readsBefore._1, r.hits - readsBefore._2,
        r.bytesWritten, r.filesWritten, Paths.get(a("cache-dir")), BiShort)
    if (trace) a.get("spans").foreach(p => Layers.writeSpans(Paths.get(p), r.spans.toSeq))

    val failed = ops.count(!_.ok) + r.setupFailed
    val noise = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "seconds" -> seconds.toString,
      "timed_ops" -> ops.size.toString, "setup_ops" -> r.setupOps.toString,
      "loop_wall_s" -> loopSec.toString,
      "loop_cpu_s" -> loopCpuS.toString,
      "steal_ratio" -> stealRatio.toString,
      "cores" -> cpus.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "corpus" -> Json.str(corpus),
      "corpus_bytes" -> CacheDisk.bytes(Paths.get(corpus))._1.toString,
      "loadavg_before" -> loadBefore.mkString("[", ",", "]"),
      "loadavg_after" -> loadAfter.mkString("[", ",", "]"),
      "calib3_ms_before" -> calibBefore.toString,
      "calib3_ms_after" -> calibAfter.toString,
      "session_ms" -> sessionMs.toString,
      "unattributed_jobs" -> r.listener.forGroup("unattributed").jobs.toString)
    val out =
      "{" + Seq(
        "\"correct\": " + (failed == 0),
        "\"attempted\": " + (ops.size + r.setupOps),
        "\"failed\": " + failed,
        "\"metrics\": " + metrics.map { case (n, v, u) =>
          s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
        }.mkString("{", ", ", "}"),
        "\"noise\": " + noise.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
      ).mkString(", ") + "}"
    Files.writeString(Paths.get(a("out")), out + "\n")
    spark.stop()
  }
}

/** Runs and checks ops. In a traced run every op's jobs carry the op's
  * id as their job group (so jobs outside any op show up as
  * unattributed), and traced ops also record spans. */
final class Runner(spark: SparkSession, corpus: String,
    expected: Map[String, String], cacheDir: Path, trace: Boolean) {
  import Main.Op
  private val sc = spark.sparkContext
  val listener = new GroupListener
  if (trace) sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  var setupOps, setupFailed = 0
  var reads, hits = 0
  var bytesWritten, filesWritten = 0L

  /** Run one op: `produce` returns the result frame, whose digest is
    * then planned, executed and checked. */
  private def run(kind: String, query: String, traced: Boolean)(
      produce: OpCtx => DataFrame): Op = {
    nextId += 1
    val id = nextId
    val ctx = new OpCtx(id, traced, sc, spans)
    var ok = false
    var phases = Map.empty[String, Long]
    val t0 = System.nanoTime()
    try {
      if (trace) ctx.book(sc.setJobGroup(s"$id/op", "op"))
      val dg = Digest.frame(produce(ctx))
      if (traced) ctx.span("catalyst.plan") { dg.queryExecution.executedPlan }
      val got = ctx.span("exec.action") { Digest.render(dg.collect()(0)) }
      if (traced) phases = ctx.book(dg.queryExecution.tracker.phases
        .map { case (k, v) => k -> v.durationMs }.toMap)
      ok = got == expected(query)
      if (!ok) System.err.println(
        s"[perfbench] op $id $kind $query: digest $got != expected ${expected(query)}")
    } catch {
      case NonFatal(e) => System.err.println(s"[perfbench] op $id $kind $query failed: $e")
    } finally if (trace) ctx.book(sc.clearJobGroup())
    val t1 = System.nanoTime()
    if (traced) ctx.book(spans += Span(id, "op", None, t0, t1))
    Op(id, kind, query, traced, t1 - t0, ctx.bookNs, ok, phases)
  }

  private def build(ctx: OpCtx, q: String): DataFrame =
    ctx.span("operators.build") { SparkEntry.queries(q)(spark, corpus) }

  def query(q: String, traced: Boolean): Op = run("query", q, traced)(build(_, q))

  def read(q: String, traced: Boolean): Op = {
    var built = false
    val op = run("read", q, traced) { ctx =>
      ctx.span("querycache.read") {
        QueryCache.cached(spark, cacheDir.toString, q) { built = true; build(ctx, q) }
      }
    }
    reads += 1
    if (!built) hits += 1
    op
  }

  def refresh(q: String, traced: Boolean): Op = {
    val op = run("refresh", q, traced) { ctx =>
      ctx.span("querycache.refresh") {
        QueryCache.refresh(spark, cacheDir.toString, q)(build(ctx, q))
      }
    }
    val (b, f) = CacheDisk.liveVersion(cacheDir, q)
    bytesWritten += b
    filesWritten += f
    op
  }

  def setup(op: Op): Unit = {
    setupOps += 1
    if (!op.ok) setupFailed += 1
  }
}

/** Zipf(s=1) sampler over ranks 0 until n; rank 0 is the hottest key. */
final class Zipf(n: Int, rng: Random) {
  private val cdf = {
    val w = (1 to n).map(1.0 / _)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Stats {
  /** Linearly interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this process, in ns. */
  def cpuNs: Long = os.getProcessCpuTime

  /** (steal, total) jiffies of the machine from /proc/stat. */
  def stealJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (cpu(7), cpu.take(8).sum)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString
}

object CacheDisk {
  /** (bytes, files) under `p`, 0 when absent. */
  def bytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var b, f = 0L
        s.filter(Files.isRegularFile(_)).forEach { x => b += Files.size(x); f += 1 }
        (b, f)
      } finally s.close()
    }

  /** (bytes, files) of the version the CURRENT pointer of `config`'s
    * entry names. */
  def liveVersion(cacheDir: Path, config: String): (Long, Long) = {
    val entry = cacheDir.resolve(QueryCache.cacheKey(config))
    val ptr = entry.resolve("CURRENT")
    if (!Files.exists(ptr)) (0L, 0L)
    else bytes(entry.resolve(Files.readString(ptr).trim))
  }
}
