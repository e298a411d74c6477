package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.AnchorCalendar
import Exprs._

/** Analytics operators beyond the core relational set: array-taxonomy
  * explode, pivot, calendar-anchored comparisons, date spines,
  * threshold monitoring, binning, and number formatting.
  */
object Analytics {

  /** Zip-unnest of parallel CSV (values, confidences) strings with a
    * confidence threshold, then aggregate per value — the reference's
    * taxonomy explode (tasks.py:761-853; dash_app.py:457-476 per-array
    * confidence filtering).
    *
    * The taxonomy columns are synthesized deterministically from the
    * documents table (the test tables carry no CSV taxonomy), then the
    * real pipeline runs: split → zip_with(struct) → explode → filter →
    * agg. All codegen'd native expressions; explode multiplies rows
    * before the aggregation's map-side partial combine, so no extra
    * shuffle beyond the final groupBy.
    */
  def q09ExplodeConf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("values_csv", concat_ws(",", col("lang"), col("source")))
      .withColumn("confs_csv",
        concat_ws(",", col("doc_id") % 10, (col("doc_id") * 7) % 10))
    docs
      .withColumn("pair", explode(zip_with(
        split(col("values_csv"), ","), split(col("confs_csv"), ","),
        (v, c) => struct(v.as("value"), c.as("conf_str")))))
      .withColumn("value", col("pair.value"))
      .withColumn("conf", col("pair.conf_str").cast("double") / 10.0)
      .filter(col("conf") >= 0.5)
      .groupBy(col("value"))
      .agg(
        count(lit(1)).as("docs"),
        dsum1(col("conf")).as("conf_sum"),
        sum(col("n_chars")).as("chars"))
  }

  /** Pivot: one shuffle, explicit pivot values (no extra distinct-scan
    * to discover them — at 100 TB the value-discovery pass is the cost
    * that matters). Mirrors the reference's dashboard pivots. */
  def q11Pivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(dsum(col("value")))
  }

  /** Calendar-anchored month rollup with MoM and YoY comparison —
    * AnchorCalendar (biutils.py:467-484) drives which three months are
    * read; conditional aggregation over ONE scan replaces the
    * reference's three separate queries. The month predicates are
    * literals, so a date-partitioned 100 TB table prunes to 3 months.
    */
  def q12CalendarWindow(spark: SparkSession, dir: String): DataFrame = {
    val cal = AnchorCalendar(java.time.LocalDate.parse("2001-08-15"))
    val cur = lit(cal.latestCompleteMonthStart.toString).cast("date")
    val mom = lit(cal.momMonthStart.toString).cast("date")
    val yoy = lit(cal.yoyMonthStart.toString).cast("date")
    val m = date_trunc("month", col("o_orderdate")).cast("date")
    Tables.orders(spark, dir)
      .filter(m === cur || m === mom || m === yoy)
      .agg(
        dsum(when(m === cur, col("o_totalprice"))).as("revenue"),
        dsum(when(m === mom, col("o_totalprice"))).as("mom_revenue"),
        dsum(when(m === yoy, col("o_totalprice"))).as("yoy_revenue"),
        count(when(m === cur, lit(1))).as("orders"))
      .withColumn("month_start", cur)
      .withColumn("mom_pct",
        when(col("mom_revenue") > 0, col("revenue") / col("mom_revenue") - 1.0))
      .withColumn("yoy_pct",
        when(col("yoy_revenue") > 0, col("revenue") / col("yoy_revenue") - 1.0))
  }

  /** Date-spine generation + gap fill — gen_date_intervals
    * (biutils.py:117-141) re-expressed as sequence()+explode (a few
    * rows exploded driver-side-free, entirely distributed) left-joined
    * to the fact rollup, zero-filling missing days. The spine side is
    * tiny → broadcast, so the rollup never reshuffles. */
  def q13DateIntervals(spark: SparkSession, dir: String): DataFrame = {
    val spine = spark.range(1).select(
      explode(expr("sequence(date'2024-01-01', date'2024-01-31')")).as("day"))
    val daily = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("events"), dsum(col("value")).as("value_sum"))
    spine.join(daily, Seq("day"), "left")
      .select(
        col("day"),
        coalesce(col("events"), lit(0L)).as("events"),
        coalesce(col("value_sum"), lit(0.0)).as("value_sum"))
  }

  /** General date-interval generation — gen_date_intervals
    * (biutils.py:117-141): [start, end] split into day/week/month
    * intervals with inclusive interval bounds. The spine is a pure
    * sequence() expression (a handful of rows regardless of fact-table
    * size) and is meant to be broadcast against facts. */
  def dateIntervals(spark: SparkSession, start: String, end: String,
      step: String): DataFrame = {
    require(Set("day", "week", "month").contains(step), s"bad step: $step")
    val spine = spark.range(1).select(explode(
      expr(s"sequence(date'$start', date'$end', interval 1 $step)"))
      .as("interval_start"))
    val w = Window.orderBy(col("interval_start"))
    spine
      .withColumn("interval_end",
        coalesce(date_sub(lead(col("interval_start"), 1).over(w), 1),
          lit(end).cast("date")))
  }

  /** Threshold monitor — the reference's MonetizationMonitor
    * (tasks.py:2580-2607): windowed aggregate, then keep entities that
    * cross an activity threshold while failing a monetization
    * predicate. One scan, partial-agg, HAVING-style post-filter. */
  def q14ThresholdMonitor(spark: SparkSession, dir: String): DataFrame = {
    val winStart = lit("2024-01-24").cast("date")
    Tables.events(spark, dir)
      .filter(to_date(col("ts")) >= winStart)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("events"),
        dsum(col("value")).as("value_sum"),
        count(when(col("event_type") === "purchase", lit(1))).as("purchases"))
      .filter(col("purchases") === 0 && col("value_sum") >= 50.0)
  }

  /** Signed binning (biutils.py:143-218 "signed" mode): symmetric
    * width buckets around zero, clamped to [-maxBin-1, maxBin]. */
  def signedBin(c: Column, width: Double, maxBin: Int): Column =
    greatest(least(floor(c / width), lit(maxBin.toLong)), lit(-maxBin.toLong - 1))

  /** Percent binning (biutils.py "percent" mode): a [0,1] ratio into
    * nBins equal buckets, top-inclusive. */
  def percentBin(c: Column, nBins: Int): Column =
    least(floor(c * nBins), lit(nBins.toLong - 1))

  /** Equal-width binning + histogram — ag_grid_color_scale's
    * linear/signed binning (biutils.py:143-218) as a width_bucket-style
    * expression: fixed bounds so the binning is a pure per-row codegen
    * expression (no global min/max pass needed at 100 TB when bounds
    * are configured, which is how the reference does it too). */
  def q15BinHistogram(spark: SparkSession, dir: String): DataFrame = {
    val width = 50000.0
    val bin = least(floor(col("o_totalprice") / width), lit(9.0)).cast("long")
    Tables.orders(spark, dir)
      .withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
      .withColumn("bin_lo", (col("bin") * width))
      .withColumn("bin_hi", when(col("bin") < 9, (col("bin") + 1) * width))
  }

  /** Approximate distinct counts (HyperLogLog++) next to the exact
    * ones — at 100 TB the reference's `count(distinct amplitude_id)`
    * metrics run as one-pass mergeable sketches (no Expand, no second
    * shuffle phase); rsd=0.01 keeps the error around 1%. Declared
    * rows-only: sketch estimates are engine-specific by nature. */
  def q42ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("users_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("users_approx"),
        count(lit(1)).as("events"))
      .withColumn("rel_error",
        abs(col("users_approx") - col("users_exact")).cast("double") /
          col("users_exact"))
  }

  /** KMV (bottom-k) distinct-count sketch next to q42's HLL++: the
    * engine-neutral hash (Exprs.mix32) makes the ESTIMATE
    * deterministic and cross-engine reproducible, so an approximate
    * algorithm is oracle-EXACT — and at 100 TB a re-run or an engine
    * migration reports the identical metric, not "about the same".
    * nh < k means the sketch holds the whole distinct hash set and
    * the estimate is exact by construction; otherwise
    * est = (k-1)*2^32/kth. O(k) mergeable state, map-side combine. */
  def q51KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val kmv = udaf(new graft.functions.KmvAgg(k))
    Tables.events(spark, dir)
      .withColumn("hv", Exprs.mix32(col("user_id")))
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("users_exact"),
        count(lit(1)).as("events"),
        kmv(col("hv")).as("sketch"))
      .select(col("event_type"), col("users_exact"), col("events"),
        size(col("sketch")).cast("long").as("kmv_size"),
        when(size(col("sketch")) >= k, element_at(col("sketch"), k)).as("kmv_kth"),
        when(size(col("sketch")) >= k,
          lit(133143986176.0) / element_at(col("sketch"), k)) // (k-1)*2^32
          .otherwise(size(col("sketch")).cast("double"))
          .as("kmv_estimate"))
  }

  /** Approximate heavy hitters per group via a Misra-Gries mergeable
    * summary (functions/HeavyHitters.scala) — the replacement for
    * exact top-N-by-count when key cardinality explodes: O(k) state
    * per group instead of O(distinct), map-side combinable, HARD
    * deterministic error bound (undercount <= N/(k+1)) rather than a
    * probabilistic one. Emits (group, key, est_count); rows-only —
    * which light keys ride along is merge-order dependent, so the
    * ScalaTest oracle asserts the order-independent MG guarantees. */
  def q48HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAgg(16))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(mg(col("user_id")).as("hh"), count(lit(1)).as("events"))
      .select(col("event_type"), col("events"),
        explode(col("hh")).as(Seq("user_id", "est_count")))
  }

  /** Magnitude ("1.2M") number formatting as a native expression chain
    * — auto_num_format (biutils.py:230-237). Rounding is done with
    * integer arithmetic on cents (floor((2a+b)/2b) = round-half-up of
    * a/b), because engines disagree on ROUND(double, 1): Spark rounds
    * the exact binary value, DuckDB rounds the shortest decimal
    * representation. Integer math is identical everywhere, fully
    * codegen'd, no UDF. Input must be non-negative (counts/revenue).
    */
  def autoNumFormat(c: Column): Column = {
    val cents = c.cast("decimal(30,2)") * 100
    def scaled(divDollars: Long, suffix: String): Column = {
      val dc = divDollars * 100 // divisor in cents
      val tenths = ((cents * 20 + dc).cast("long") / lit(2 * dc)).cast("long")
      concat((tenths / 10).cast("long").cast("string"), lit("."),
        (tenths % 10).cast("string"), lit(suffix))
    }
    when(c >= 1e12, scaled(1000000000000L, "T"))
      .when(c >= 1e9, scaled(1000000000L, "B"))
      .when(c >= 1e6, scaled(1000000L, "M"))
      .when(c >= 1e3, scaled(1000L, "K"))
      .otherwise(scaled(1L, ""))
  }

  /** Exact interpolated percentiles per group — the distribution
    * metrics dashboards put next to sums. `percentile` (exact,
    * sort-based per group) matches DuckDB's quantile_cont definition;
    * for 100 TB the one-pass sketch variant is approx_percentile with
    * a bounded error knob — same API shape, no global sort either way. */
  /** Funnel analysis — ordered-step conversion (view -> click ->
    * purchase), the canonical product-analytics query of the
    * reference's event domain (its HelixQuery dashboards compute
    * per-step user counts; the ordered-sequence constraint is what a
    * funnel adds). A user reaches step N when an event of that type
    * happens STRICTLY AFTER their step-N-1 time; each step time is
    * the earliest qualifying event (first-touch attribution).
    *
    * Shape: one filtered min-aggregate per step, each joined to the
    * previous step's reach — three map-side-combinable aggregates
    * over one event scan each, user-keyed equi-joins, no windows and
    * no per-user event buffering; the reach frames shrink
    * monotonically so later steps join ever-smaller sides (AQE
    * broadcasts them at scale). */
  /** q78: SESSION-scoped ordered funnel — conversion measured inside a
    * single visit (q55 measures lifetime first-touch conversion; a
    * product dashboard wants both). Sessions are the q06 gap
    * definition (30 min); a session converts a step only if the step
    * event happens AT OR AFTER the previous step's first event in
    * that same session.
    *
    * Scale shape: the gap sessionizer is one user-keyed window; the
    * three step times are stacked window expressions over the SAME
    * (user, session) partitioning — Catalyst plans them as chained
    * Window operators behind ONE exchange+sort, so the whole funnel
    * costs two shuffles and a 1-row final aggregate, with no joins at
    * all (q55's per-step shrinking-join shape inverted: here steps
    * are columns, not frames). All times integer microseconds,
    * conversion in basis points — oracle-exact. */
  def q78SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sessions = ev
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("session_seq"))
    val stepped = sessions
      .withColumn("v",
        min(when(col("event_type") === "view", col("ts_us"))).over(wSess))
      .withColumn("c",
        min(when(col("event_type") === "click" && col("ts_us") >= col("v"),
          col("ts_us"))).over(wSess))
      .withColumn("p",
        min(when(col("event_type") === "purchase" && col("ts_us") >= col("c"),
          col("ts_us"))).over(wSess))
    stepped
      .groupBy(col("user_id"), col("session_seq"))
      .agg(max(col("v")).as("v"), max(col("c")).as("c"), max(col("p")).as("p"))
      .agg(
        count(lit(1)).as("sessions"),
        count(col("v")).as("with_view"),
        count(col("c")).as("view_then_click"),
        count(col("p")).as("full_path"))
      .select(col("sessions"), col("with_view"), col("view_then_click"),
        col("full_path"),
        when(col("with_view") > 0,
          expr("(view_then_click * 10000) div with_view")).as("click_conv_bp"),
        when(col("view_then_click") > 0,
          expr("(full_path * 10000) div view_then_click")).as("purchase_conv_bp"))
  }

  def q55Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = Seq(("1_view", s1), ("2_view_click", s2),
      ("3_view_click_purchase", s3)).map { case (name, df) =>
      df.agg(count(lit(1)).as("users")).select(lit(name).as("step"), col("users"))
    }.reduce(_ unionByName _)
    val total = s1.agg(count(lit(1)).as("step1_users"))
    counts.crossJoin(broadcast(total))
      .select(col("step"), col("users"),
        // NULL (not NaN) conversion on an empty funnel — matches the
        // oracle's NULLIF(0) so the degenerate case hash-agrees too
        when(col("step1_users") > 0,
          col("users").cast("double") / col("step1_users"))
          .as("conversion"))
  }

  /** Event-transition matrix (the Markov-chain view of user paths):
    * counts and probabilities of (event_type → next event_type) steps
    * within a 30-minute gap — the reference's session drill-downs
    * (hit_depth, bounces) generalized to the full path structure.
    *
    * Shape: ONE window partitioned by user (per-key state only — a
    * hot user costs one task, and the 100 TB variant splits by day
    * exactly like sessionizeEventsScalable), then a
    * map-side-combinable pair count. The probability normalization
    * windows over the RESULT matrix — at most |event_type|^2 rows,
    * driver-scale by construction. Order is (ts, seq) so timestamp
    * ties resolve identically in any engine. */
  def q60Transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_ts", lead(col("ts"), 1).over(byUser))
      .filter(col("next_type").isNotNull &&
        col("next_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
    val fromTotals = Window.partitionBy(col("from_type"))
    steps
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("transitions"))
      .withColumn("from_total", sum(col("transitions")).over(fromTotals))
      .select(col("from_type"), col("to_type"), col("transitions"),
        col("from_total"),
        (col("transitions").cast("double") / col("from_total"))
          .as("probability"))
  }

  /** Rolling z-score anomaly detection over the daily order-revenue
    * series per priority class — the reference's threshold monitor
    * (q14) upgraded from a fixed cutoff to a self-calibrating one.
    *
    * EXACT cross-engine arithmetic: revenue is floored to integer
    * cents, and the z-test |x - mean| > z·stddev is evaluated with
    * the sqrt and divisions multiplied out —
    *   (n·x − Σx)² > z²·n·(n·Σx² − (Σx)²)
    * — all integer math in decimal(38,0), so the flag is bit-identical
    * in any engine (float stddev would hash-diverge). z = 3, and a
    * day needs ≥ 4 trailing observations to be judged.
    *
    * Scale shape: the window runs over the PRE-AGGREGATED daily
    * series — one row per (priority, day) regardless of fact-table
    * size, so the sort under the window is bounded by the calendar,
    * not the data; the heavy lifting is the map-side-combinable
    * daily rollup. The trailing frame (7 preceding .. 1 preceding)
    * never includes the tested value itself. */
  def q61Anomaly(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).as("cents"))
      .groupBy(col("priority"), col("day"))
      .agg(sum(col("cents")).as("revenue_cents"), count(lit(1)).as("orders"))
    val trailing = Window.partitionBy(col("priority")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val x = col("revenue_cents").cast(dec)
    val stats = daily
      .withColumn("n", count(lit(1)).over(trailing).cast(dec))
      .withColumn("sx", sum(col("revenue_cents").cast(dec)).over(trailing))
      .withColumn("sx2",
        sum((col("revenue_cents").cast(dec) * col("revenue_cents").cast(dec)))
          .over(trailing))
    stats
      .filter(col("n") >= 4)
      .select(col("priority"), col("day"), col("revenue_cents"), col("orders"),
        col("n").cast("bigint").as("trailing_days"),
        col("sx").cast("bigint").as("trailing_cents"),
        ((col("n") * x - col("sx")) * (col("n") * x - col("sx")) >
          lit(9) * col("n") * (col("n") * col("sx2") - col("sx") * col("sx")))
          .as("is_anomaly"))
  }

  /** Cohort retention — users grouped by first-activity day, retained
    * = active again exactly `offset` days later (the other canonical
    * BI query over the events domain). Exact arithmetic throughout:
    * distinct (user, day) activity, an equi-join back to the cohort
    * day, integer day offsets — any engine reproduces it bit-for-bit.
    *
    * Shape: the cohort table is one min-aggregate by user; activity
    * is one distinct over (user, day); one user-keyed join + one
    * (cohort, offset) aggregate. Nothing is windowed or per-user
    * buffered, so it scales as two shuffles of the deduplicated
    * activity table. */
  def q56Retention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val joined = activity.join(cohort, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort_day")))
      .filter(col("offset") <= 7)
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_users"))
    joined.groupBy(col("cohort_day"), col("offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("offset"), col("active_users"),
        col("cohort_users"),
        (col("active_users").cast("double") / col("cohort_users"))
          .as("retention"))
  }

  def q35Percentiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        expr("percentile(value, array(0.25, 0.75))").getItem(1).as("p75"),
        count(lit(1)).as("events"))
  }

  def q16NumFormat(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("orders"))
      .withColumn("revenue_fmt", autoNumFormat(col("revenue")))
      .withColumn("orders_fmt", autoNumFormat(col("orders")))
  }
}
