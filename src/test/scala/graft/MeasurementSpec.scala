package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the measurement machinery's arithmetic — the code that WRITES
  * the committed records (VERDICT r11 stretch item: the suite grew no
  * specs while the measurement surface grew ~200 lines).
  *
  *  - Bench.marginalFit: the two-point (probes, wall) fit behind
  *    ms_per_probe_marginal / fixed_sec_est, including the REPS=0
  *    degenerate mode that used to emit negative-garbage slopes.
  *  - LoadSentinel.settle: the escalate-on-elevation probe loop,
  *    including the extra-sample accounting that marks tail-masked
  *    entries in the record.
  *  - LoadSentinel.escalationThresholdMs: machine-relative (2.25x the
  *    committed calibration reference), not an absolute 300 ms.
  *  - calibration monotonicity: the calibration loop actually reads
  *    higher on a machine under load — the property the whole
  *    load-sentinel scheme rests on.
  *  - Json: the records' string escaping and number format, so an env
  *    value or a path with a quote or backslash still parses.
  */
class MeasurementSpec extends AnyFunSuite {

  // ---- Bench.marginalFit -------------------------------------------

  test("marginalFit recovers slope and intercept from synthetic walls") {
    // wall(p) = 10 s fixed + 2 ms/probe: full cap 4000 probes -> 18 s,
    // half cap 2000 -> 14 s
    val Some((slope, fixed)) = Bench.marginalFit(18.0, 14.0, 4000L, 2000L)
    assert(math.abs(slope - 2.0) < 1e-9)
    assert(math.abs(fixed - 10.0) < 1e-9)
  }

  test("marginalFit handles a pure-marginal query (zero intercept)") {
    val Some((slope, fixed)) = Bench.marginalFit(8.0, 4.0, 4000L, 2000L)
    assert(math.abs(slope - 2.0) < 1e-9)
    assert(math.abs(fixed) < 1e-9)
  }

  test("marginalFit refuses the full-only A/B mode (median == 0)") {
    // SPARK_GRAFT_BENCH_REPS=0: r.median is 0.0, not a wall — the fit
    // through it emitted negative slope and fixed cost (ADVICE r11)
    assert(Bench.marginalFit(0.0, 14.0, 4000L, 2000L).isEmpty)
  }

  test("marginalFit refuses degenerate half-cap points") {
    assert(Bench.marginalFit(18.0, -1.0, 4000L, 2000L).isEmpty,
      "half-cap run did not happen")
    assert(Bench.marginalFit(18.0, 14.0, 4000L, -1L).isEmpty,
      "half-cap probe count failed")
    assert(Bench.marginalFit(18.0, 14.0, 2000L, 2000L).isEmpty,
      "equal probe counts: slope undefined")
    assert(Bench.marginalFit(18.0, 14.0, 1000L, 2000L).isEmpty,
      "cap arithmetic inverted: refuse rather than emit a negative run")
  }

  // ---- LoadSentinel.settle -----------------------------------------

  test("settle takes zero extras when the initial reading is quiet") {
    var calls = 0
    val (best, extra) = LoadSentinel.settle(100.0, 300.0, maxExtra = 8,
      sample = () => { calls += 1; 1000.0 }, sleepMs = 0)
    assert(best === 100.0 && extra === 0 && calls === 0)
  }

  test("settle stops at the first sub-threshold sample and counts it") {
    val readings = Iterator(450.0, 380.0, 120.0, 90.0)
    val (best, extra) = LoadSentinel.settle(500.0, 300.0, maxExtra = 8,
      sample = () => readings.next(), sleepMs = 0)
    assert(best === 120.0, "best is the settling sample")
    assert(extra === 3, "extras counted up to and including the settler")
    assert(readings.hasNext, "no samples taken past the settler")
  }

  test("settle keeps the minimum when elevation persists (real stall)") {
    val (best, extra) = LoadSentinel.settle(900.0, 300.0, maxExtra = 8,
      sample = () => 800.0, sleepMs = 0)
    assert(best === 800.0 && extra === 8,
      "a genuine stall stays elevated through every sample: the record" +
        " keeps the elevated min AND the full escalation count")
  }

  // ---- escalation threshold ----------------------------------------

  test("escalation threshold derives from the committed reference") {
    // sbt test runs from the repo root, so the reference is readable
    assert(LoadSentinel.refCalibMs.nonEmpty,
      "tools/calibration_ref.json should parse")
    val ref = LoadSentinel.refCalibMs.get
    assert(math.abs(LoadSentinel.escalationThresholdMs - 2.25 * ref) < 1e-9)
    // and sits between the record thresholds it mediates (1.5x bracket,
    // 2.5x per-query worst) so escalation can't mask a record-red probe
    assert(LoadSentinel.escalationThresholdMs > 1.5 * ref)
    assert(LoadSentinel.escalationThresholdMs < 2.5 * ref)
  }

  // ---- calibration loop under load ---------------------------------

  test("calibration reads higher under injected CPU load") {
    // min-of-3 on both sides: min is the most load-favorable statistic,
    // so a ratio that still shows up in the min is a real signal, not a
    // scheduling artifact. 8x-core spinners make the expected slowdown
    // ~8x; assert only 1.5x so ambient noise can't flip the test.
    // SCHEDULER-DEPENDENT by nature (ADVICE r12): on a cgroup-throttled
    // or already-loaded machine the quiet min can be inflated (or the
    // spinners deprioritized), so one attempt can read under 1.5x with
    // correct code. Retry once before failing — a genuine code
    // regression (calibration not sensitive to load at all) fails both
    // attempts; a scheduling artifact almost never repeats.
    def attempt(): (Double, Double) = {
      def min3: Double =
        (1 to 3).map(_ => LoadSentinel.calibrationMs).min
      val quiet = min3
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val nThreads = Runtime.getRuntime.availableProcessors() * 8
      val threads = (1 to nThreads).map { _ =>
        val t = new Thread(() => {
          var x = 1L
          while (!stop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }
          if (x == 42L) println("spin sentinel")
        })
        t.setDaemon(true); t.start(); t
      }
      try {
        Thread.sleep(100) // let the scheduler saturate
        (quiet, min3)
      } finally {
        stop.set(true)
        threads.foreach(_.join(2000))
      }
    }
    val (q1, l1) = attempt()
    if (l1 > 1.5 * q1) succeed
    else {
      Thread.sleep(500) // let any transient ambient load drain
      val (q2, l2) = attempt()
      assert(l2 > 1.5 * q2,
        s"calibration must flag load (twice under threshold: " +
          s"quiet=$q1/$q2 ms loaded=$l1/$l2 ms)")
    }
  }

  // ---- Json --------------------------------------------------------

  test("Json escapes quotes, backslashes and control chars; json parsers read back the input") {
    assert(Json.str("""a"b\c""") === """"a\"b\\c"""")
    assert(Json.str("t\tn\nr\r\u0001\u001f") === "\"t\\tn\\nr\\r\\u0001\\u001f\"")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nasty = Seq("", "plain", "/data/sf\"0.1\\", "C:\\x\\\"", "tab\tcr\rnl\n",
      (0 until 32).map(_.toChar).mkString, "é 中 \u007f")
    nasty.foreach(v => assert(mapper.readTree(Json.str(v)).asText() === v))
    // keys escape too, and fields keep the order given
    val rec = Json.obj(Seq("sf" -> Json.str("x\"y"), "k\"" -> Json.arr(Seq("1", Json.num(0.5)))))
    assert(rec === """{"sf":"x\"y","k\"":[1,0.500]}""")
    val tree = mapper.readTree(rec)
    assert(tree.get("sf").asText() === "x\"y")
    assert(tree.fieldNames().next() === "sf")
  }

  test("Json numbers have three decimals and a '.' point under any default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Json.num(1234.5678) === "1234.568")
      assert(Json.num(-0.0004) === "-0.000")
      assert(Json.num(0) === "0.000")
    } finally java.util.Locale.setDefault(saved)
  }
}
