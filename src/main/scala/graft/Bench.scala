package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, map_entries, xxhash64}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits one JSON line of per-query seconds.
  *
  * Robustness: each query is timed 3 times and the MEDIAN reported, so
  * a single cold-run (first-touch JIT/IO) sample can't dominate the
  * recorded number. The JSON line goes to stdout AND to a file
  * (bench.json, or $SPARK_GRAFT_BENCH_OUT) because sbt prefixes stdout
  * with "[info] ", which broke driver-side parsing in round 1. A query
  * that throws is reported with "failed":[names] and a non-zero exit —
  * never silently counted as a healthy time.
  *
  * One sequential timing loop: queries run one at a time, so each
  * query's walls are its own, and each is followed by its untimed
  * per-query instruments (the half-cap probe rerun, the calibration
  * probe, the boundary GC), which then never land inside another
  * query's timed window. `loop_wall_sec` is the wall of that whole
  * loop. For an A/B on a subset, SPARK_GRAFT_BENCH_ONLY names the
  * queries.
  *
  * TWO timed actions per query, side by side in bench.json:
  *  - `median` (with min/max rep spread): count() — the action every
  *    prior round recorded, kept for cross-round comparability.
  *    Caveat: Catalyst prunes output columns nothing downstream
  *    consumes, so a few pure per-row projections (e.g. q27's quality
  *    score) are measured as scan+count under this action.
  *  - `full_median`: a full-width consumer — bit_xor(xxhash64(every
  *    output column)) — that forces all output columns to
  *    materialize, closing the pruning blind spot; the hash aggregate
  *    is codegen'd and map-side-combined, so the added cost beyond
  *    the query itself is one hash per row. One rep.
  *
  * Per-probe normalization: the retrieval family's probe set scales
  * with the corpus BY BENCHMARK CONSTRUCTION (the every-50th-id
  * convention), so raw wall across scale factors conflates kernel
  * scaling with benchmark-contract scaling. For that family bench.json
  * also records `probes` (counted from the same table the query
  * probes) and `ms_per_probe` = median×1000/probes — the kernel
  * readout to compare across sf0.1/sf1/sf10. */
object Bench {

  /** Two-point (probes, wall) affine fit behind the per-probe record
    * fields: slope = marginal ms/probe (the kernel's true per-probe
    * cost), intercept = the probe-count-independent share (artifact
    * opens, in-query training). None when either point is missing or
    * degenerate — in particular medianSec == 0.0, which is no measured
    * wall: a fit through it would emit a negative-garbage slope. */
  private[graft] def marginalFit(medianSec: Double, halfCapSec: Double,
      probes: Long, halfCapProbes: Long): Option[(Double, Double)] =
    if (medianSec > 0 && halfCapSec >= 0 && halfCapProbes > 0 &&
        probes > halfCapProbes) {
      val slope = (medianSec - halfCapSec) * 1000.0 / (probes - halfCapProbes)
      Some((slope, medianSec - slope * probes / 1000.0))
    } else None

  /** Probe-set cardinality per retrieval query: the every-50th-id
    * convention on the table each query probes (documents for the
    * text-cosine family, embeddings for the vector-ANN family).
    * Counted, not assumed, so a corpus with a different id layout
    * records its true divisor. */
  private val probeCounters: Map[String, (SparkSession, String) => Long] = {
    val docProbes = (s: SparkSession, dir: String) =>
      graft.sources.Tables.documents(s, dir)
        .filter(Probes.isProbe(s, col("doc_id"))).count()
    val vecProbes = (s: SparkSession, dir: String) =>
      graft.sources.Tables.embeddings(s, dir)
        .filter(Probes.isProbe(s, col("vec_id"))).count()
    Map(
      "q17_cosine_topk" -> docProbes, "q18_weighted_recs" -> docProbes,
      "q24_ann_bruteforce" -> vecProbes, "q25_ann_lsh" -> vecProbes,
      "q45_ann_ivf" -> vecProbes, "q82_pq_ann" -> vecProbes,
      "q88_ivfpq_probe" -> vecProbes)
  }

  /** Full-width consumer: fold every output column into one hash
    * aggregate so nothing is prunable. bit_xor folds without the
    * int64 overflow a sum of hash values hits under ANSI mode; map
    * columns go through map_entries (hash expressions reject raw
    * MapType). */
  private def consumeAll(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => map_entries(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val reps = {
      val v = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_REPS must be an integer >= 1, got '$v'"))
    }
    val fullReps = 1
    // disk headroom bracketing the run (GiB on the shuffle-temp fs):
    // a disk-constrained record — the failure mode that produced the
    // r8 sf100 ENOSPC — is self-diagnosing instead of a mystery
    def diskFreeGb: Long =
      new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
        .getUsableSpace / (1024L * 1024 * 1024)
    val diskFreeBefore = diskFreeGb
    // LOAD SENTINEL bracketing the run: the committed r9 sf0.1 record
    // was taken on a VM stalling up to 10x (judge A/B proved the jars
    // at parity) but nothing machine-readable said so. Two probes make
    // a contaminated record name itself:
    //  - /proc/loadavg (1/5/15 min) before and after, and
    //  - a fixed single-thread calibration loop (ms to fold 10^8 longs
    //    through a multiply-add) before and after — pure CPU, no IO, no
    //    allocation, so on a quiet machine it is a machine constant;
    //    check_records.py fails any record whose calibration deviates
    //    >1.5x from tools/calibration_ref.json.
    def loadAvg: Seq[Double] = LoadSentinel.loadAvg
    def calibrationMs: Double = LoadSentinel.calibrationMs
    val loadBefore = loadAvg
    // median of 3 so one scheduler preemption can't skew the probe
    def calib3: Double = LoadSentinel.calib3
    val calibBefore = calib3
    // Long timer interval + an explicit GC at every query boundary
    // (below): the 2-min timer GC is a 1-2 s STW Full pause landing at
    // a random point of a timed rep or a calibration window (r10's
    // first quiet re-take recorded calib_ms_worst = 1.9 s purely from
    // GC(66) "Pause Full (System.gc())" ticks); the boundary GC reaps
    // the SAME debris — the just-finished query's dead shuffles — in
    // untimed time, bounding the on-disk footprint at one query.
    val spark = Sessions.local(cpus, periodicGc = "30min")

    // warmup: exercise scan + shuffle + window codegen paths once
    try {
      SparkEntry.queries("q01_agg_filter")(spark, sfDir).count()
      SparkEntry.queries("q04_window_topn")(spark, sfDir).count()
    } catch { case _: Throwable => }
    // leading-edge certification: one more probe AFTER warmup, right
    // before the first timed query — the before-bracket runs at JVM
    // start, and load that is still draining from a preceding phase
    // (observed: r10's sf100 bench started at calib_ms_before=818 ms
    // while the oracle phase's load drained) can contaminate the
    // warmup and the earliest timed windows yet be gone by the first
    // per-query probe. This sample certifies the run's leading edge;
    // check_records.py holds it to the tight bracket threshold.
    val calibStart = calib3

    // optional comma-separated subset for iterating on one query's
    // plan without paying the full suite (default: everything), and an
    // explicit skip list for scale experiments (e.g. the documented
    // quadratic-by-construction baselines at very large corpora).
    // Skips are NEVER silent: they ride in the summary as "skipped".
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val selected = (only match {
      case Some(s) => SparkEntry.queries.filter { case (k, _) => s(k) }
      case None    => SparkEntry.queries
    }).filter { case (k, _) => !skip(k) }

    // Build-once / serve-many indexes: time each one-off artifact or
    // model build here — reported per query as build_sec, so the
    // per-rep timings below measure SERVE latency, the number that
    // matters for an index. Builds are memoized per session (q88's
    // on-disk artifact and q45's deterministic centroid train), so the
    // timing loop's reps all hit the prebuilt structure. q45 joined in
    // r12 (VERDICT item 7): the r11 marginal/fixed fit proved its sf100
    // wall was ~97 s of in-query training with per-probe cost below
    // noise — now the train is an explicit field and ms_per_probe reads
    // serve cost. The top-level build_sec stays q88's value for record
    // compatibility.
    // The coarse centroid model is SHARED between q45 and q88 (same
    // Clustering.centroidsQuantized memo key: dir | ivfK(n) | 5), so
    // whichever builder ran first used to absorb the whole train into
    // its build_sec while the other memo-hit ~0 — a value that silently
    // depended on builder order and on the selected subset (ADVICE
    // r12). Time the shared train EXPLICITLY first: centroid_train_sec
    // is its own field, and both builders' build_sec now consistently
    // measure only their own work (q88: PQ codebooks + artifact write;
    // q45: the memo probe) in any subset, in any order.
    val sharesCentroidTrain = Set("q45_ann_ivf", "q88_ivfpq_probe")
    val centroidTrainSec: Double =
      if (selected.keySet.exists(sharesCentroidTrain)) {
        val t0 = System.nanoTime()
        try { graft.operators.Ann.ensureQ45Trained(spark, sfDir)
              (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      } else -1.0
    val builders: Seq[(String, (SparkSession, String) => Unit)] = Seq(
      "q88_ivfpq_probe" ->
        ((s: SparkSession, d: String) => { graft.sources.IvfIndex.ensureQ88Built(s, d); () }),
      "q45_ann_ivf" ->
        ((s: SparkSession, d: String) => graft.operators.Ann.ensureQ45Trained(s, d)))
    val buildSecs: Map[String, Double] = builders.collect {
      case (name, b) if selected.contains(name) =>
        val t0 = System.nanoTime()
        val sec = try { b(spark, sfDir); (System.nanoTime() - t0) / 1e9 }
                  catch { case _: Throwable => -1.0 }
        name -> sec
    }.toMap
    val buildSec: Double = buildSecs.getOrElse("q88_ivfpq_probe", 0.0)
    // probe divisors counted up front (cheap filtered counts) so the
    // timing loop stays pure
    val probeCounts: Map[String, Long] = probeCounters.collect {
      case (name, cnt) if selected.contains(name) =>
        name -> (try cnt(spark, sfDir) catch { case _: Throwable => -1L })
    }
    // Untimed per-query first-touch pass (SPARK_GRAFT_BENCH_WARM=1,
    // intended for the single-rep sf>=10 records): the first action a
    // query ever runs pays costs that are not the kernel — cold-cache
    // parquet reads, codegen/JIT, and the memoized one-off builds
    // (q54's vocab, q88's artifact open) — which at reps=1 land
    // entirely on the headline count number (r10's sf100 record read
    // q54 at 210 s count vs 59 s full purely from this). The warm pass
    // absorbs them in untimed time AND records them: per-query
    // `first_touch` is the cold wall, so the cold-vs-warm split is a
    // field in the record instead of folklore. Multi-rep records
    // (sf<=1, median-of-3) already bury first-touch in the median and
    // don't pay the extra pass.
    val warm = sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("1")
    case class R(name: String, median: Double, min: Double, max: Double,
      fullMedian: Double, ok: Boolean, calibMs: Double, calibExtra: Int,
      firstTouch: Double, halfCapSec: Double, halfCapProbes: Long)
    val loopT0 = System.nanoTime()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val firstTouch: Double =
        if (warm) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch { case _: Throwable => }
          (System.nanoTime() - t0) / 1e9
        } else -1.0
      def timed(n: Int, label: String)(consume: DataFrame => Unit): Seq[(Double, Boolean)] =
        (1 to n).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { consume(fn(spark, sfDir)); true }
                   catch { case e: Throwable =>
                     System.err.println(s"$label $name: ${e.getClass.getName}: ${e.getMessage}")
                     false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
      val runs = timed(reps, "BENCH FAIL")(_.count())
      val fullRuns = timed(fullReps, "BENCH FULL FAIL")(consumeAll)
      val sorted = runs.map(_._1).sorted
      val fullSorted = fullRuns.map(_._1).sorted
      def med(v: Seq[Double]): Double = v(v.length / 2)
      // Marginal per-probe cost under a cap (untimed extra run): a cap
      // amortizes any probe-count-INDEPENDENT cost (q45's in-query IVF
      // retrain, artifact opens) over fewer probes, so raw
      // median/probes inflates — r10's capped sf100 read q45 at
      // 19.1 ms/probe vs the uncapped r8 record's 2.36 from arithmetic
      // alone. One extra count at cap/2 (a deterministic prefix of the
      // capped set — Probes caps are prefixes by construction) gives
      // two (probes, wall) points on the same fixed cost, so the
      // record carries the MARGINAL slope — the kernel's true
      // per-probe cost — and the fixed-cost intercept explicitly.
      // cap > 1: cap/2 == 0 would read back as UNCAPPED (Probes treats
      // 0 as "no cap") and run the full probe set by accident
      val cap = Probes.cap(spark)
      val (halfCapSec, halfCapProbes): (Double, Long) =
        if (cap > 1 && probeCounts.get(name).exists(_ > 0)) {
          val oldCap = spark.conf.getOption(Probes.CapKey)
          spark.conf.set(Probes.CapKey, cap / 2)
          try {
            val p = try probeCounters(name)(spark, sfDir)
                    catch { case _: Throwable => -1L }
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() } catch { case _: Throwable => }
            ((System.nanoTime() - t0) / 1e9, p)
          } finally oldCap match {
            case Some(v) => spark.conf.set(Probes.CapKey, v)
            case None    => spark.conf.unset(Probes.CapKey)
          }
        } else (-1.0, -1L)
      // one calibration sample taken right after this query's reps:
      // the sandbox VM stalls intermittently in multi-minute windows
      // that DRIFT between runs (r9's window hit q39-q53, r10's first
      // re-take hit q26-q56), so a single before/after bracket misses
      // them — the per-query sample localizes which entries a stall
      // contaminated, making a targeted re-measure-and-merge possible.
      // Sampled BEFORE the boundary GC below, at the quietest point
      // the JVM has (executors just went idle, no GC in flight): r10
      // measured 400-500 ms samples when this ran AFTER the GC — the
      // concurrent-mark workers + cleaner file IO it kicks off tax a
      // single-thread loop for seconds. Min of 3 spaced 250 ms so one
      // residual burst can't read as a stall; a real machine stall is
      // a multi-minute window that inflates all three.
      val (calibSample, calibExtra) = {
        val min3 = (1 to 3).map { i =>
          if (i > 1) Thread.sleep(250)
          calibrationMs
        }.min
        // ESCALATE on elevation (r11): the r11 sf10 re-takes proved the
        // 0.5 s min-of-3 window reads 400-700 ms after the two
        // artifact-writing queries (q88's index build/open, q89's
        // memoized-merge IO) on an otherwise-quiet machine — a SELF-
        // INFLICTED sub-second IO/cleaner tail, reproduced at the same
        // two queries across runs, not the multi-minute machine stall
        // the probe hunts. Keep sampling at 1 s spacing (up to 8 more)
        // until the reading settles; a real stall spans minutes and
        // stays elevated through all samples, so detection is intact.
        // Threshold is machine-relative (2.25x calibration_ref) and the
        // extra-sample count rides in the record as calib_extra, so an
        // escalated entry names itself (ADVICE r11; LoadSentinel doc).
        LoadSentinel.settle(min3, LoadSentinel.escalationThresholdMs,
          maxExtra = 8, sample = () => calibrationMs)
      }
      // boundary GC (untimed): reap the just-finished query's dead
      // shuffle files NOW instead of at the next timer tick — the
      // per-query debris bound that lets the session run a 30-min
      // timer interval, keeping the 1-2 s Full-GC pause out of timed
      // reps and out of the calibration samples above
      System.gc()
      R(name, med(sorted), sorted.head, sorted.last, med(fullSorted),
        runs.forall(_._2) && fullRuns.forall(_._2),
        calibSample, calibExtra, firstTouch, halfCapSec, halfCapProbes)
    }
    // wall of the whole timing loop, reps plus the per-query
    // instruments (sum-of-medians can't see the time between reps)
    val loopWallSec = (System.nanoTime() - loopT0) / 1e9
    import Json.{arr, num, obj, str}
    // stdout gets ONLY the fixed-size summary object: the per-query map
    // grew past the driver's ~2.26 KB stdout tail buffer at 99 queries
    // (rounds 5 AND 6 arrived truncated, parsed:null) and will only
    // keep growing. The full per-query detail — median plus the
    // min/max rep spread, full_median, and the probe divisors — lives
    // exclusively in bench.json.
    val failed = arr(results.filterNot(_.ok).map(r => str(r.name)))
    val skipped = arr(skip.toSeq.sorted.map(str))
    val total = results.map(_.median).sum
    val fullTotal = results.map(_.fullMedian).sum
    val ctField =
      if (centroidTrainSec >= 0) Seq("centroid_train_sec" -> num(centroidTrainSec))
      else Nil
    // r14 ADDITIONS-ONLY stdout fields (VERDICT r13 items 3 + 8): the
    // driver's PERF comparison reads only this line, so it was blind to
    // per-query deltas and to the VM-noise certificate. Both now ride
    // in the summary — WITHOUT breaking the ~2.26 KB stdout tail-buffer
    // constraint that forced the per-query map out of stdout in r5/r6:
    //  - "queries": per-query MEDIANS keyed by the 3-char qNN prefix
    //    (unique across the suite). Full names + medians measure
    //    2.6 KB > buffer (every line would truncate, parsed:null);
    //    the qNN form is ~1.2 KB, keeping the whole line ~1.5 KB.
    //    Full-name detail stays in bench.json, unchanged.
    //  - "calib_ms_worst": the run's worst mid-run calibration sample,
    //    and "stall_windows": how many queries' settled samples stayed
    //    above the escalation threshold (2.25x the committed quiet-
    //    machine reference) — the record-level noise certificate, so a
    //    cross-round total comparison carries its own contamination
    //    flag instead of needing a forensic re-run.
    val calibWorst = if (results.isEmpty) 0.0 else results.map(_.calibMs).max
    val stallWindows =
      results.count(_.calibMs > LoadSentinel.escalationThresholdMs)
    val qMedians = obj(results.map(r => r.name.take(3) -> num(r.median)))
    val metricFields = Seq("metric" -> str("total"), "value" -> num(total), "unit" -> str("sec"))
    val runFields = Seq("failed" -> failed, "reps" -> reps.toString,
      "sf" -> str(sfDir), "n_queries" -> results.length.toString,
      "build_sec" -> num(buildSec)) ++ ctField ++
      Seq("skipped" -> skipped, "full_total" -> num(fullTotal))
    val summary = obj(metricFields ++ runFields ++ Seq("queries" -> qMedians,
      "calib_ms_worst" -> num(calibWorst), "stall_windows" -> stallWindows.toString,
      "loop_wall_sec" -> num(loopWallSec)))
    println(summary)
    // raw copy on stderr too: sbt prefixes stdout with "[info] ", which
    // breaks line-oriented parsers; stderr passes through un-prefixed
    System.err.println(summary)
    val qs = obj(results.map { r =>
      val probeFields = probeCounts.get(r.name) match {
        case Some(p) if p > 0 =>
          // two (probes, wall) points on the same fixed cost: slope =
          // marginal ms/probe, intercept = the probe-independent share
          val marginal = marginalFit(r.median, r.halfCapSec, p, r.halfCapProbes)
            .toSeq.flatMap { case (slope, fixed) =>
              Seq("half_cap_sec" -> num(r.halfCapSec),
                "half_cap_probes" -> r.halfCapProbes.toString,
                "ms_per_probe_marginal" -> num(slope), "fixed_sec_est" -> num(fixed))
            }
          Seq("probes" -> p.toString, "ms_per_probe" -> num(r.median * 1000.0 / p)) ++
            marginal
        case _ => Nil
      }
      val ftField =
        if (r.firstTouch >= 0) Seq("first_touch" -> num(r.firstTouch)) else Nil
      // calib_extra > 0 marks an entry whose probe escalated past the
      // min-of-3 window (self-IO tail settling), so a tail-masked
      // reading is identifiable in the record instead of folklore
      val ceField =
        if (r.calibExtra > 0) Seq("calib_extra" -> r.calibExtra.toString) else Nil
      // build_shared names the one-off cost this entry's build_sec
      // deliberately EXCLUDES (timed once, record-level, as
      // centroid_train_sec) so the split is readable from the entry
      val buildField = buildSecs.get(r.name).toSeq.flatMap(b =>
        ("build_sec" -> num(b)) +: (
          if (sharesCentroidTrain(r.name) && centroidTrainSec >= 0)
            Seq("build_shared" -> str("centroid_train"))
          else Nil))
      r.name -> obj(Seq("median" -> num(r.median), "min" -> num(r.min),
        "max" -> num(r.max), "full_median" -> num(r.fullMedian),
        "calib_ms" -> num(r.calibMs)) ++ ceField ++ buildField ++
        probeFields ++ ftField)
    })
    val loadAfter = loadAvg
    val calibAfter = calib3
    // calibWorst (computed above, now also on stdout): the run's worst
    // mid-run calibration sample — a stall window that hit ANY query
    // surfaces here even if the before/after brackets were quiet (each
    // per-query sample is a min-of-3 spaced 250 ms, still noisier than
    // the bracket medians — check_records.py holds it to the calibrated
    // 2.5x threshold vs the brackets' 1.5x)
    // probe-cap policy: when set (large-sf benches only — see Probes),
    // the record says so, next to the counted per-query divisors
    val probeCap = Probes.cap(spark)
    val probeCapField = if (probeCap > 0) Seq("probe_cap" -> probeCap.toString) else Nil
    val full = obj(metricFields ++ Seq("queries" -> qs) ++ runFields ++
      Seq("full_reps" -> fullReps.toString) ++ probeCapField ++ Seq(
        "disk_free_gb_before" -> diskFreeBefore.toString,
        "disk_free_gb_after" -> diskFreeGb.toString,
        "loadavg_before" -> arr(loadBefore.map(num)), "loadavg_after" -> arr(loadAfter.map(num)),
        "calib_ms_before" -> num(calibBefore), "calib_ms_start" -> num(calibStart),
        "calib_ms_after" -> num(calibAfter), "calib_ms_worst" -> num(calibWorst),
        "stall_windows" -> stallWindows.toString, "loop_wall_sec" -> num(loopWallSec),
        "warm_pass" -> warm.toString,
        // no query is exempt from the warm pass; the key stays for
        // record readers
        "warm_skipped" -> arr(Nil)))
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes("UTF-8"))
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
