package perfbench

import java.nio.file.{Files, Path}
import Main.Op

/** Per-layer metrics of a traced run, derived from the in-memory spans
  * and the listener's per-op counters. Time and count metrics are
  * per-op means over the traced timed ops (means add up to the mean op
  * wall; medians would not). A metric of a layer the workload does not
  * run reads 0. */
object Layers {

  def metrics(ops: Seq[Op], spans: Seq[Span], listener: GroupListener,
      cores: Int, sessionMs: Double, reads: Int, hits: Int,
      bytesWritten: Long, filesWritten: Long, cacheDir: Path,
      queries: Seq[String]): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val spansOf = spans.groupBy(_.op)
    def spanMs(o: Op, name: String): Seq[Double] =
      spansOf.getOrElse(o.id, Nil).filter(_.name == name).map(_.ms)
    def meanSpan(name: String): Double = {
      val xs = traced.map(spanMs(_, name)).filter(_.nonEmpty).map(_.sum)
      Stats.mean(xs)
    }
    def perOp(f: Op => Double): Double = Stats.mean(traced.map(f))
    val counters = traced.map(o => o.id -> listener.forOp(o.id)).toMap
    def c(f: Counters => Double): Double = perOp(o => f(counters(o.id)))
    val buildOps = traced.filter(spanMs(_, "operators.build").nonEmpty)
    val mb = 1024.0 * 1024.0
    val runS = counters.values.map(_.runMs).sum / 1000.0
    val wallS = traced.map(_.wallNs).sum / 1e9
    val selfMs = traced.map { o =>
      o.ms - spansOf.getOrElse(o.id, Nil).filter(_.parent.contains("op")).map(_.ms).sum
    }
    val refreshes = ops.filter(_.kind == "refresh").map(_.ms)
    val (diskBytes, _) = CacheDisk.bytes(cacheDir)
    val liveBytes = queries.map(q => CacheDisk.liveVersion(cacheDir, q)._1).sum
    Seq(
      ("sessions.local_ms", sessionMs, "ms"),
      ("operators.build_ms", Stats.mean(buildOps.map(spanMs(_, "operators.build").sum)), "ms"),
      ("operators.build_jobs", Stats.mean(buildOps.map(o =>
        listener.forOp(o.id, Some("operators.build")).jobs.toDouble)), "count"),
      ("catalyst.analysis_ms", perOp(_.phasesMs.getOrElse("analysis", 0L).toDouble), "ms"),
      ("catalyst.optimization_ms", perOp(_.phasesMs.getOrElse("optimization", 0L).toDouble), "ms"),
      ("catalyst.planning_ms", perOp(_.phasesMs.getOrElse("planning", 0L).toDouble), "ms"),
      ("exec.action_ms", meanSpan("exec.action"), "ms"),
      ("exec.jobs", c(_.jobs.toDouble), "count"),
      ("exec.stages", c(_.stages.toDouble), "count"),
      ("exec.tasks", c(_.tasks.toDouble), "count"),
      ("exec.executor_run_s", c(_.runMs / 1000.0), "s"),
      ("exec.executor_cpu_s", c(_.cpuNs / 1e9), "s"),
      ("exec.gc_s", c(_.gcMs / 1000.0), "s"),
      ("exec.shuffle_write_mb", c(_.shuffleWrite / mb), "MB"),
      ("exec.shuffle_read_mb", c(_.shuffleRead / mb), "MB"),
      ("exec.spill_mb", c(_.spill / mb), "MB"),
      ("exec.cores_busy_ratio", if (wallS > 0) runS / (wallS * cores) else 0.0, "ratio"),
      ("querycache.read_ms", meanSpan("querycache.read"), "ms"),
      ("querycache.refresh_ms", if (refreshes.isEmpty) 0.0 else Stats.quantile(refreshes, 0.5), "ms"),
      ("querycache.hit_ratio", if (reads > 0) hits.toDouble / reads else 0.0, "ratio"),
      ("querycache.bytes_written_mb", bytesWritten / mb, "MB"),
      ("querycache.files_written", filesWritten.toDouble, "count"),
      ("querycache.space_amplification",
        if (liveBytes > 0) diskBytes.toDouble / liveBytes else 0.0, "ratio"),
      ("op.self_ms", Stats.mean(selfMs), "ms"),
      ("trace.overhead_ratio", overheadRatio(ops), "ratio"),
    ) ++ queries.map { name =>
      val walls = ops.filter(o => o.query == name && o.kind != "read").map(_.ms)
      (s"query.${name}_ms", if (walls.isEmpty) 0.0 else Stats.quantile(walls, 0.5), "ms")
    }
  }

  /** Untraced ÷ traced ops per second, estimated from the traced ops:
    * their wall ÷ their wall less the tracing bookkeeping timed on the
    * op's own thread (job groups, span records, planner phase reads).
    * Listener callbacks run on Spark's listener thread and are not in
    * it. 0 when nothing was traced. */
  def overheadRatio(ops: Seq[Op]): Double = {
    val traced = ops.filter(_.traced)
    val wall = traced.map(_.wallNs).sum.toDouble
    if (traced.isEmpty) 0.0 else wall / (wall - traced.map(_.bookNs).sum)
  }

  /** One JSON object per span, one per line. */
  def writeSpans(path: Path, spans: Seq[Span]): Unit =
    Files.writeString(path, spans.map { s =>
      s"""{"op": ${s.op}, "name": ${Json.str(s.name)}, "parent": ${
        s.parent.map(Json.str).getOrElse("null")}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString("", "\n", "\n"))
}
