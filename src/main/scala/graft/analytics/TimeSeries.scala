package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series shapes over the events stream beyond the window family in
  * [[WindowExtras]]: the seasonal (hour-of-day) profile, cumulative distinct
  * users, and equi-depth value binning — the ops behind "is today normal?"
  * dashboards.
  *
  * Determinism: averages are exact-decimal sums divided once; shares are
  * single divisions of integer counts; bin boundaries come from `ntile`
  * over a total order — all hash-identical across engines.
  */
object TimeSeries extends graft.QueryModule {

  /** Equi-depth bins per event type. */
  val Bins = 8

  /** Hour-of-day seasonal profile per event type: row count, exact-decimal
    * mean value, and each hour's share of the type's total traffic.
    *
    * Scale shape: one aggregate keyed (type, hour) — at most 24×|types|
    * groups, so partial aggregation collapses everything map-side; the
    * share join is against a |types|-row total (broadcast).
    */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      // null-rejecting on the grouping/measure columns: Spark and DuckDB
      // disagree on NULL sort/group placement, so dirty rows are excluded
      // EXPLICITLY on both engines rather than by accident of defaults
      .filter($"ts".isNotNull && $"event_type".isNotNull && $"value".isNotNull)
      .select($"event_type", hour($"ts").as("hh"),
        $"value".cast("decimal(12,2)").as("v"))
      .groupBy($"event_type", $"hh")
      .agg(count(lit(1)).as("n"), sum($"v").as("v_sum"))
    val totals = hourly.groupBy($"event_type").agg(sum($"n").as("type_total"))
    hourly.join(broadcast(totals), "event_type")
      .select($"event_type", $"hh", $"n",
        ($"v_sum".cast("double") / $"n").as("avg_value"),
        ($"n" * lit(1.0) / $"type_total").as("hour_share"))
      .orderBy($"event_type", $"hh")
  }

  /** Cumulative distinct users by date: each user counts once, on their
    * first-seen date; a running sum over the ~bounded date spine gives the
    * cumulative curve. This is THE scale-safe way to a "total users to
    * date" series — the naive `COUNT(DISTINCT user) OVER (ORDER BY date)`
    * re-scans every prior day per row, while first-seen + running sum is
    * one aggregate plus a window over |dates| rows.
    */
  def cumulativeUniques(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val firstSeen = Tables.events(spark, dir)
      // a user whose every ts is NULL would get a NULL first-seen date and
      // land on opposite ends of the two engines' date orders — filter,
      // mirrored in the oracle
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(to_date(min($"ts")).as("event_date"))
    val daily = firstSeen.groupBy($"event_date")
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy($"event_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select($"event_date", $"n_new",
        sum($"n_new").over(w).as("cum_users"))
      .orderBy($"event_date")
  }

  /** Equi-depth (ntile) value bins per event type: [[Bins]] buckets of equal
    * row count, each reported with its [min, max] value span and size.
    * Total order (value, event_id) makes tile assignment deterministic.
    *
    * Scale note: the window partitions by event type, so no global sort —
    * each type's rows sort within their shuffle partition. For a single
    * giant key, the two-phase variant (sampled quantile boundaries +
    * map-side bucketing, as `wh_zorder_stats` does for its ranks) replaces
    * the exact tile at the cost of approximate boundaries.
    */
  def equidepthBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables.events(spark, dir)
      // NULLs sort first in Spark, last in DuckDB — tile assignment must
      // never see one
      .filter($"event_type".isNotNull && $"event_id".isNotNull &&
        $"value".isNotNull)
      .select($"event_type", $"event_id", $"value")
      .withColumn("bin", ntile(Bins).over(w))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"),
        min($"value").as("lo"), max($"value").as("hi"))
      .orderBy($"event_type", $"bin")
  }

  /** Monthly revenue rebased to the first period = 100 — the indexed-series
    * shape every "growth since launch" chart is. Revenue accumulates as
    * exact DECIMAL; the rebase is two fixed-shape IEEE ops against the
    * `first_value` of the bounded month spine.
    *
    * Scale shape: the monthly rollup collapses map-side; the unpartitioned
    * `first_value` window runs over |months| rows — a plan constant, not a
    * data-scale sort.
    */
  def rebaseIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy($"ym")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("first_rev", first($"rev").over(w))
      .select($"ym", $"rev".cast("double").as("revenue"),
        (($"rev".cast("double") / $"first_rev".cast("double")) * lit(100.0))
          .as("idx"))
      .orderBy($"ym")
  }

  /** Trailing RANGE-frame span in seconds (1 hour). */
  val RangeSecs = 3599L

  /** EWMA taps: trailing window length; weights are 2^(Taps-1-i) so the
    * newest sample weighs 2^(Taps-1) and weights halve per step back —
    * exactly the exponential decay α=1/2 truncated to [[Taps]] terms.
    */
  val Taps = 8

  /** Per-user trailing one-hour activity via a time-RANGE window frame —
    * the frame class the rest of the window family doesn't exercise: the
    * frame boundary is a VALUE offset (now−3599 s) over the ordering key,
    * not a row count, so burst traffic widens the frame and quiet periods
    * narrow it. `n_1h` / `v_sum_1h` are each event's trailing-hour event
    * count and exact-decimal value sum.
    *
    * Cross-engine determinism: the frame is keyed on floor-epoch seconds
    * (Spark `unix_timestamp` truncates; DuckDB mirrors with
    * `floor(epoch(ts))`), and a RANGE frame contains ALL peer rows of each
    * ordering value on both engines — no tie-order dependence by
    * construction.
    *
    * Scale shape: one shuffle on user_id; each user's series sorts within
    * its partition (no global sort), and the running frame is evaluated in
    * one pass per partition. Hot users skew-split under AQE like any keyed
    * window.
    */
  def trailingRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"sec")
      .rangeBetween(-RangeSecs, 0)
    Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull)
      .select($"user_id", $"event_id", $"ts",
        unix_timestamp($"ts").as("sec"),
        $"value".cast("decimal(12,2)").as("v"))
      .select($"user_id", $"event_id", $"ts",
        count(lit(1)).over(w).as("n_1h"),
        sum($"v").over(w).cast("double").as("v_sum_1h"))
      .orderBy($"user_id", $"event_id")
  }

  /** Exact truncated EWMA per user series: weighted mean of the last
    * [[Taps]] values with power-of-two decay weights, renormalized over the
    * taps actually present — so the series head (fewer than 8 samples) is
    * still an exact weighted mean, not a zero-padded bias. All arithmetic
    * until the final division is DECIMAL×INT exact, so the one double
    * division is bit-identical cross-engine.
    *
    * Shape: [[Taps]] `lag` columns over ONE (user_id; ts, event_id) window
    * — a single shuffle + per-partition sort, evaluated in one pass (Spark
    * computes all lags of a window in the same frame walk); no self-joins,
    * no explode. The recursive EWMA (α·v + (1−α)·prev) cannot be expressed
    * as a window without a sequential scan; the truncated form trades an
    * O(2^-Taps) tail error (here 1/256) for a fully parallel plan.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val lags = (0 until Taps).map { i =>
      (if (i == 0) $"v" else lag($"v", i).over(w), 1L << (Taps - 1 - i))
    }
    val num = lags.map { case (c, wt) => coalesce(c, lit(0).cast("decimal(12,2)")) * lit(wt) }
      .reduce(_ + _)
    val den = lags.map { case (c, wt) =>
      when(c.isNotNull, lit(wt)).otherwise(lit(0L)) }.reduce(_ + _)
    Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull)
      .select($"user_id", $"event_id", $"ts",
        $"value".cast("decimal(12,2)").as("v"))
      .select($"user_id", $"event_id", $"v".cast("double").as("value"),
        (num.cast("double") / den.cast("double")).as("ewma"))
      .orderBy($"user_id", $"event_id")
  }

  /** Candidate changepoints reported. */
  val ChangeTopK = 5

  /** Rate-changepoint detection (CUSUM against the constant-rate null,
    * public literature): for day index i of D with cumulative count S_i of
    * N total, the drift statistic |S_i·D − i·N| peaks at the day where the
    * arrival rate shifts — the argmax is the classic CUSUM changepoint
    * estimate. Everything stays in INTEGER arithmetic (products bounded by
    * N·D), so the statistic is bit-identical cross-engine with no float
    * mean in sight.
    *
    * Scale shape: one groupBy(day) aggregate over the stream, then the
    * cumsum window runs over the DAY table (calendar-sized, thousands of
    * rows at a century) — the global window never sees corpus-scale rows.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = daily.agg(
      sum($"n").as("total_n"), count(lit(1)).as("n_days"))
    daily
      .withColumn("cum_n", sum($"n").over(w))
      .withColumn("i", row_number().over(Window.orderBy($"day")))
      .crossJoin(broadcast(totals))
      .withColumn("drift", abs($"cum_n" * $"n_days" - $"i" * $"total_n"))
      .select(
        datediff($"day", lit("1970-01-01")).as("day_no"),
        $"n", $"cum_n", $"drift")
      .orderBy($"drift".desc, $"day_no")
      .limit(ChangeTopK)
  }

  /** MAD anomaly multiplier (flag when dev > K·MAD). One value, both
    * engines.
    */
  val MadK = 3

  /** Robust anomaly days by median absolute deviation — the heavy-tail-
    * proof twin of [[WindowExtras]]' z-score outlier report: a single
    * anomalous spike inflates the mean AND the stddev it is judged
    * against, while the median/MAD pair moves only when half the days
    * move. Everything stays in INTEGERS: both medians come from exact
    * order statistics (row_number selection — the repo's no-interpolation
    * quantile rule), deviations are integer distances, and the flag
    * compares `dev > K·MAD` in integer arithmetic, so the report is
    * bit-identical cross-engine with no float in sight.
    *
    * Scale shape: one corpus aggregate to day grain; every window after
    * that runs over the CALENDAR-sized daily table.
    */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .groupBy(datediff(to_date($"ts"), lit("1970-01-01")).as("day_no"))
      .agg(count(lit(1)).as("n"))
    def medianOf(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(col(c), col("day_no"))
      df.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(df.agg(count(lit(1)).as("cnt"))))
        .filter($"rn" === expr("(cnt + 1) div 2"))
        .select(col(c).as("med"))
    }
    val med = medianOf(daily, "n")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs($"n" - $"med"))
    val mad = medianOf(dev.select($"day_no", $"dev".as("n")), "n")
      .select($"med".as("mad"))
    dev.crossJoin(broadcast(mad))
      .filter($"dev" > lit(MadK) * $"mad")
      .select($"day_no", $"n", $"med", $"mad", $"dev")
      .orderBy($"day_no")
  }

  /** Year-to-date running revenue — the calendarized cumulative every
    * finance dashboard opens with: monthly order revenue (DECIMAL-exact,
    * so partial-aggregate merge order cannot flip a bit), the YTD running
    * sum within each year, and each month's share of its full year. The
    * corpus collapses to month grain in ONE aggregate; both windows then
    * run over the calendar-sized month table.
    */
  def ytdRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("revenue"))
    val wYtd = Window.partitionBy($"yr").orderBy($"mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wYear = Window.partitionBy($"yr")
    monthly
      .withColumn("ytd", sum($"revenue").over(wYtd))
      .withColumn("yr_total", sum($"revenue").over(wYear))
      .select($"yr", $"mo",
        $"revenue".cast("double").as("revenue"),
        $"ytd".cast("double").as("ytd_revenue"),
        graft.functions.GraftFunctions.round2(
          $"revenue".cast("double") * lit(100.0)
            / $"yr_total".cast("double")).as("pct_of_year"))
      .orderBy($"yr", $"mo")
  }

  /** Cohort lifetime-value matrix — the (acquisition cohort × account age)
    * view subscription and marketplace finance teams steer by: customers
    * cohorted by first-order month, revenue accumulated per month-of-age,
    * normalized per cohort member. Month age is pure INTEGER arithmetic
    * (y·12+m differences — `months_between`'s fractional months would
    * desync from any SQL twin); money runs in DECIMAL through the
    * cumulative window, which spans only (cohort × age) cells — calendar²,
    * never customer-scale rows; the one corpus-scale shuffle is the
    * first-order aggregate.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def mIdx(c: org.apache.spark.sql.Column) =
      year(c) * 12 + month(c)
    val first = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(min($"o_orderdate").as("first_date"))
      .select($"o_custkey".as("fc"),
        (year($"first_date") * 100 + month($"first_date")).as("cohort_month"),
        mIdx($"first_date").as("first_idx"))
    val cohortSize = first.groupBy($"cohort_month")
      .agg(countDistinct($"fc").as("n_customers"))
    val cells = Tables.orders(spark, dir)
      .join(first, $"o_custkey" === $"fc")
      .groupBy($"cohort_month",
        (mIdx($"o_orderdate") - $"first_idx").as("months_since"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("revenue"))
    val w = Window.partitionBy($"cohort_month").orderBy($"months_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue", sum($"revenue").over(w))
      .join(broadcast(cohortSize), "cohort_month")
      .select($"cohort_month", $"months_since", $"n_customers",
        $"revenue".cast("double").as("revenue"),
        graft.functions.GraftFunctions.round2(
          $"cum_revenue".cast("double") / $"n_customers")
          .as("ltv_per_user"))
      .orderBy($"cohort_month", $"months_since")
  }

  /** Per-type volume trend by ordinary least squares over daily counts —
    * "is this event type growing or dying?" as one number per type, the
    * drift detector dashboards sort by. The [[graft.analytics.GraphOps]]
    * assortativity discipline: every OLS sum (Σx, Σy, Σxy, Σx²) is an
    * exact BIGINT over day-grain rows, and the slope
    * `(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` is ONE final division — no float
    * accumulates, so the statistic hash-compares. x is the epoch-day
    * ordinal; slope units are events/day per day.
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .groupBy($"event_type",
        datediff(to_date($"ts"), lit("1970-01-01")).as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y").as("sy"),
        sum($"x".cast("bigint") * $"y").as("sxy"),
        sum($"x".cast("bigint") * $"x".cast("bigint")).as("sxx"))
      .select($"event_type", $"n_days", $"sy".as("total_events"),
        (($"n_days" * $"sxy" - $"sx" * $"sy") * lit(1.0)
          / ($"n_days" * $"sxx" - $"sx" * $"sx")).as("slope_per_day"))
      .orderBy($"event_type")
  }

  /** Autocorrelation lags reported by [[autocorr]] — daily and weekly. */
  val AcfLags: Seq[Int] = Seq(1, 7)

  /** Per-type autocorrelation of the daily count series at lags 1 and 7 —
    * the seasonality detector: acf_7 ≈ 1 means a weekly cycle,
    * acf_1 ≈ 0 means day-to-day noise. Complements [[seasonalProfile]]
    * (which ASSUMES the daily/hourly cycle; this measures whether one
    * exists) and [[trendSlope]] (first moment vs second).
    *
    * Counts are gap-filled to a dense per-type date spine first — lag-k on
    * a sparse series silently compares non-adjacent days. Pearson r comes
    * from exact BIGINT sums via
    * r = (nΣxy − ΣxΣy) / √((nΣxx − Σx²)(nΣyy − Σy²)), with the two
    * variance factors cast to DOUBLE before the final multiply (their
    * product can exceed int64; each factor alone cannot at day grain) —
    * the same single-float-expression discipline as [[trendSlope]], so the
    * statistic hash-compares with no rounding.
    *
    * Scale: the spine is |types|·|days| (plan-bounded); one window sort per
    * type for the lag columns; the sums collapse map-side.
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"d").as("lo"), max($"d").as("hi"))
      .select($"event_type",
        explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("d"))
    val dense = spine.join(daily, Seq("event_type", "d"), "left")
      .select($"event_type", $"d", coalesce($"n", lit(0L)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    val lagged = AcfLags.foldLeft(dense) { (df, k) =>
      df.withColumn(s"l$k", lag($"n", k).over(w))
    }
    def r(k: Int) = {
      val (x, y) = (col(s"l$k"), $"n")
      val pairs = when(x.isNotNull, 1L).otherwise(0L)
      val cnt = sum(pairs)
      def s(c: org.apache.spark.sql.Column) = sum(when(x.isNotNull, c).otherwise(0L))
      val (sx, sy, sxy, sxx, syy) = (s(x), s(y), s(x * y), s(x * x), s(y * y))
      val vx = cnt * sxx - sx * sx
      val vy = cnt * syy - sy * sy
      ((cnt * sxy - sx * sy) * lit(1.0)
        / sqrt(vx.cast("double") * vy.cast("double"))).as(s"acf_$k")
    }
    lagged.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), r(1), r(7))
      .orderBy($"event_type")
  }

  /** STL-lite decomposition of the daily count series per event type:
    * x = trend + seasonal(dow) + residual. Classical decomposition with a
    * centered 7-day moving-average trend and day-of-week seasonal indices
    * (the additive form of the STL family without loess — the shape every
    * "is this spike seasonal?" dashboard needs; [[seasonalProfile]] reports
    * the raw cycle, this separates it FROM the trend so the residual is an
    * anomaly signal, feeding [[anomalyMad]]-style alarms).
    *
    * Exactness discipline: the trend keeps its integer numerator (the
    * 7-day window SUM of counts) so `trend = t7/7` is one division; the
    * seasonal index per (type, dow) accumulates Σ(7·xᵢ − t7ᵢ) as exact
    * BIGINT and divides ONCE by 7·n; the residual is then a fixed-order
    * IEEE expression of those two deterministic doubles. No float ever
    * sums through a shuffle. Edge days without a full 7-day frame are
    * dropped (classical decomposition trims m/2 days per end) — the frame
    * row-count gates them explicitly on both engines.
    *
    * Scale: one window per type over the dense spine (bounded by
    * |types|·|days|), one (type, dow)-keyed aggregate, one broadcast join
    * back — all plan constants relative to corpus size.
    */
  def stlLite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"d").as("lo"), max($"d").as("hi"))
      .select($"event_type",
        explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("d"))
    val dense = spine.join(daily, Seq("event_type", "d"), "left")
      .select($"event_type", $"d", coalesce($"n", lit(0L)).as("n"))
    val frame = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(-3, 3)
    val trended = dense
      .withColumn("t7", sum($"n").over(frame))
      .withColumn("n_frame", count(lit(1)).over(frame))
      .filter($"n_frame" === 7)
      .withColumn("dow", weekday($"d") + 1)
    val seasonal = trended.groupBy($"event_type", $"dow")
      .agg(sum(lit(7L) * $"n" - $"t7").as("s_num"),
        count(lit(1)).as("n_dow"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .select($"event_type", $"d", $"n",
        round($"t7" * lit(1.0) / 7, 4).as("trend"),
        round($"s_num" * lit(1.0) / (lit(7L) * $"n_dow"), 4).as("seasonal"),
        round($"n" - $"t7" * lit(1.0) / 7
          - $"s_num" * lit(1.0) / (lit(7L) * $"n_dow"), 4).as("residual"))
      .orderBy($"event_type", $"d")
  }

  /** Seasonal-naive forecast backtest — the baseline every fancier
    * forecaster must beat, and the one that needs no fitting: forecast
    * f(d) = actual(d−7) on the dense per-type spine, scored over every day
    * with a lag. Error metrics stay in the exact-integer domain: per type,
    * total absolute error is a BIGINT sum, MAE and WAPE (Σ|e|/Σactual —
    * the weighted form of MAPE that avoids one float division PER DAY) are
    * single divisions. Complements [[stlLite]] (decomposition says a
    * weekly cycle exists; this measures how predictive it is) and
    * [[anomalyMad]] (large snaive error on a single day IS the anomaly
    * signal).
    *
    * Scale: same spine + one lag window per type as [[autocorr]]; the
    * metric rollup is |types| rows.
    */
  def snaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"d").as("lo"), max($"d").as("hi"))
      .select($"event_type",
        explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("d"))
    val dense = spine.join(daily, Seq("event_type", "d"), "left")
      .select($"event_type", $"d", coalesce($"n", lit(0L)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    dense
      .withColumn("f", lag($"n", 7).over(w))
      .filter($"f".isNotNull)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum(abs($"n" - $"f")).as("total_abs_err"),
        sum($"n").as("total_actual"))
      .select($"event_type", $"n_days", $"total_abs_err",
        round($"total_abs_err" * lit(1.0) / $"n_days", 4).as("mae"),
        round($"total_abs_err" * lit(1.0) / $"total_actual", 4).as("wape"))
      .orderBy($"event_type")
  }

  /** Daily new-vs-returning user split — the growth dashboard's second
    * line after [[cumulativeUniques]]' total: per active day, how many of
    * the day's users are seen for the FIRST time vs returning. Same
    * first-seen-date backbone (one aggregate per user, never a
    * count-distinct window over history), then a per-(day, user) presence
    * table joins its user's first-seen date and classifies by equality.
    * Shares are single divisions of the exact counts.
    *
    * Scale: two aggregates keyed on user_id / (date, user_id) with
    * map-side partials, one join co-keyed on user_id; nothing scans
    * history per output row.
    */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .select($"user_id", to_date($"ts").as("d"))
    val firstSeen = ev.groupBy($"user_id").agg(min($"d").as("first_d"))
    val daily = ev.distinct() // one row per (user, active day)
    daily.join(firstSeen, "user_id")
      .groupBy($"d")
      .agg(
        count(lit(1)).as("n_active"),
        sum(when($"d" === $"first_d", 1L).otherwise(0L)).as("n_new"))
      .select($"d", $"n_active", $"n_new",
        ($"n_active" - $"n_new").as("n_returning"),
        round($"n_new" * lit(1.0) / $"n_active", 4).as("new_share"))
      .orderBy($"d")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_new_vs_returning" -> (newVsReturning _),
    "ts_snaive_backtest" -> (snaiveBacktest _),
    "ts_stl_lite" -> (stlLite _),
    "ts_autocorr" -> (autocorr _),
    "ts_trend_slope" -> (trendSlope _),
    "agg_cohort_ltv" -> (cohortLtv _),
    "win_ytd_running" -> (ytdRunning _),
    "ts_anomaly_mad" -> (anomalyMad _),
    "ts_changepoint" -> (changepoint _),
    "ts_seasonal_profile" -> (seasonalProfile _),
    "ts_rebase_index" -> (rebaseIndex _),
    "win_cumulative_uniques" -> (cumulativeUniques _),
    "agg_equidepth_bins" -> (equidepthBins _),
    "win_trailing_range" -> (trailingRange _),
    "ts_ewma" -> (ewma _))

  /** EWMA oracle terms generated from the same [[Taps]] weights. */
  private def ewmaTerms: (String, String) = {
    val cols = (0 until Taps).map(i => if (i == 0) "v" else s"v$i")
    val wts = (0 until Taps).map(i => 1L << (Taps - 1 - i))
    val num = cols.zip(wts)
      .map { case (c, w) => s"coalesce($c, CAST(0 AS DECIMAL(12,2))) * $w" }
      .mkString(" + ")
    val den = cols.zip(wts)
      .map { case (c, w) => s"(CASE WHEN $c IS NOT NULL THEN $w ELSE 0 END)" }
      .mkString(" + ")
    (num, den)
  }

  val oracle: Map[String, String] = Map(
    "agg_new_vs_returning" -> """WITH ev AS (
  SELECT DISTINCT user_id, ts::DATE AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
first_seen AS (SELECT user_id, min(d) AS first_d FROM ev GROUP BY 1)
SELECT d, count(*)::BIGINT AS n_active,
       sum(CASE WHEN d = first_d THEN 1 ELSE 0 END)::BIGINT AS n_new,
       (count(*) - sum(CASE WHEN d = first_d THEN 1 ELSE 0 END))::BIGINT
         AS n_returning,
       round(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS new_share
FROM ev JOIN first_seen USING (user_id)
GROUP BY d ORDER BY d""",

    "ts_snaive_backtest" -> """WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM (SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1)),
dense AS (
  SELECT s.event_type, s.d, coalesce(daily.n, 0)::BIGINT AS n
  FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d),
lagged AS (
  SELECT event_type, n,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS f
  FROM dense)
SELECT event_type,
       count(*)::BIGINT AS n_days,
       sum(abs(n - f))::BIGINT AS total_abs_err,
       round(sum(abs(n - f)) * 1.0 / count(*), 4) AS mae,
       round(sum(abs(n - f)) * 1.0 / sum(n), 4) AS wape
FROM lagged WHERE f IS NOT NULL
GROUP BY event_type ORDER BY event_type""",

    "ts_stl_lite" -> """WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM (SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1)),
dense AS (
  SELECT s.event_type, s.d, coalesce(daily.n, 0)::BIGINT AS n
  FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d),
trended AS (
  SELECT event_type, d, n,
         sum(n) OVER w AS t7,
         count(*) OVER w AS n_frame,
         isodow(d)::INT AS dow
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
full_frames AS (SELECT * FROM trended WHERE n_frame = 7),
seasonal AS (
  SELECT event_type, dow, sum(7 * n - t7)::BIGINT AS s_num,
         count(*)::BIGINT AS n_dow
  FROM full_frames GROUP BY 1, 2)
SELECT f.event_type, f.d, f.n,
       round(t7 * 1.0 / 7, 4) AS trend,
       round(s_num * 1.0 / (7 * n_dow), 4) AS seasonal,
       round(f.n - t7 * 1.0 / 7 - s_num * 1.0 / (7 * n_dow), 4) AS residual
FROM full_frames f JOIN seasonal s USING (event_type, dow)
ORDER BY event_type, d""",

    "ts_autocorr" -> {
      def rSql(k: Int) =
        s"""(cnt$k * sxy$k - sx$k * sy$k) * 1.0
           / sqrt((cnt$k * sxx$k - sx$k * sx$k)::DOUBLE
                  * (cnt$k * syy$k - sy$k * sy$k)::DOUBLE) AS acf_$k"""
      def sumsSql(k: Int) =
        s"""sum(CASE WHEN l$k IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS cnt$k,
           sum(CASE WHEN l$k IS NOT NULL THEN l$k ELSE 0 END)::BIGINT AS sx$k,
           sum(CASE WHEN l$k IS NOT NULL THEN n ELSE 0 END)::BIGINT AS sy$k,
           sum(CASE WHEN l$k IS NOT NULL THEN l$k * n ELSE 0 END)::BIGINT AS sxy$k,
           sum(CASE WHEN l$k IS NOT NULL THEN l$k * l$k ELSE 0 END)::BIGINT AS sxx$k,
           sum(CASE WHEN l$k IS NOT NULL THEN n * n ELSE 0 END)::BIGINT AS syy$k"""
      s"""WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM (SELECT event_type, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1)),
dense AS (
  SELECT s.event_type, s.d, coalesce(daily.n, 0)::BIGINT AS n
  FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.d = daily.d),
lagged AS (
  SELECT event_type, n,
         lag(n, 1) OVER (PARTITION BY event_type ORDER BY d) AS l1,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS l7
  FROM dense),
sums AS (
  SELECT event_type, count(*)::BIGINT AS n_days,
         ${sumsSql(1)},
         ${sumsSql(7)}
  FROM lagged GROUP BY event_type)
SELECT event_type, n_days, ${rSql(1)}, ${rSql(7)}
FROM sums ORDER BY event_type"""
    },

    "ts_trend_slope" -> """WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS x,
         count(*)::BIGINT AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2),
s AS (
  SELECT event_type,
         count(*)::BIGINT AS n_days,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
  FROM daily GROUP BY event_type)
SELECT event_type, n_days, sy AS total_events,
       (n_days * sxy - sx * sy) * 1.0 / (n_days * sxx - sx * sx)
         AS slope_per_day
FROM s ORDER BY event_type""",

    "agg_cohort_ltv" -> """WITH first AS (
  SELECT o_custkey AS fc,
         (year(min(o_orderdate)) * 100 + month(min(o_orderdate)))::INT
           AS cohort_month,
         (year(min(o_orderdate)) * 12 + month(min(o_orderdate)))::INT
           AS first_idx
  FROM orders GROUP BY o_custkey),
sz AS (
  SELECT cohort_month, count(DISTINCT fc)::BIGINT AS n_customers
  FROM first GROUP BY 1),
cells AS (
  SELECT f.cohort_month,
         ((year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.first_idx)::INT
           AS months_since,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o JOIN first f ON o.o_custkey = f.fc
  GROUP BY 1, 2),
cum AS (
  SELECT cohort_month, months_since, revenue,
         sum(revenue) OVER (PARTITION BY cohort_month ORDER BY months_since
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_revenue
  FROM cells)
SELECT c.cohort_month, c.months_since, s.n_customers,
       CAST(c.revenue AS DOUBLE) AS revenue,
       floor((CAST(c.cum_revenue AS DOUBLE) / s.n_customers) * 100 + 0.5)
         / 100.0 AS ltv_per_user
FROM cum c JOIN sz s ON c.cohort_month = s.cohort_month
ORDER BY c.cohort_month, c.months_since""",

    "win_ytd_running" -> """WITH monthly AS (
  SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY 1, 2)
SELECT yr, mo,
       CAST(revenue AS DOUBLE) AS revenue,
       CAST(sum(revenue) OVER (PARTITION BY yr ORDER BY mo
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS ytd_revenue,
       floor((CAST(revenue AS DOUBLE) * 100.0
              / CAST(sum(revenue) OVER (PARTITION BY yr) AS DOUBLE)) * 100
             + 0.5) / 100.0 AS pct_of_year
FROM monthly
ORDER BY yr, mo""",

    "ts_anomaly_mad" -> s"""WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', ts::DATE) AS day_no,
         count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
med AS (
  SELECT n AS med FROM (
    SELECT n, row_number() OVER (ORDER BY n, day_no) AS rn FROM daily)
  WHERE rn = ((SELECT count(*) FROM daily) + 1) // 2),
dev AS (
  SELECT day_no, n, med, abs(n - med) AS dev FROM daily, med),
mad AS (
  SELECT dev AS mad FROM (
    SELECT dev, row_number() OVER (ORDER BY dev, day_no) AS rn FROM dev)
  WHERE rn = ((SELECT count(*) FROM dev) + 1) // 2)
SELECT day_no::INT AS day_no, n, med, mad, dev
FROM dev, mad
WHERE dev > $MadK * mad
ORDER BY day_no""",

    "ts_changepoint" -> s"""WITH daily AS (
  SELECT ts::DATE AS day, count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
cum AS (
  SELECT day, n,
         sum(n) OVER (ORDER BY day)::BIGINT AS cum_n,
         row_number() OVER (ORDER BY day) AS i
  FROM daily),
tot AS (
  SELECT sum(n)::BIGINT AS total_n, count(*)::BIGINT AS n_days FROM daily)
SELECT datediff('day', DATE '1970-01-01', day)::INT AS day_no, n, cum_n,
       abs(cum_n * n_days - i * total_n)::BIGINT AS drift
FROM cum, tot
ORDER BY drift DESC, day_no
LIMIT $ChangeTopK""",

    "win_trailing_range" -> s"""WITH ev AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL)
SELECT user_id, event_id, ts,
       count(*) OVER w AS n_1h,
       CAST(sum(v) OVER w AS DOUBLE) AS v_sum_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN $RangeSecs PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id""",

    "ts_ewma" -> {
      val (num, den) = ewmaTerms
      val lagCols = (1 until Taps)
        .map(i => s"lag(v, $i) OVER w AS v$i").mkString(",\n         ")
      s"""WITH ev AS (
  SELECT user_id, event_id, ts, CAST(value AS DECIMAL(12,2)) AS v
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
l AS (
  SELECT user_id, event_id, v,
         $lagCols
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id, CAST(v AS DOUBLE) AS value,
       CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS ewma
FROM l
ORDER BY user_id, event_id"""
    },

    "ts_rebase_index" -> """WITH monthly AS (
  SELECT (year(o_orderdate)::INT * 100 + month(o_orderdate)::INT) AS ym,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1),
based AS (
  SELECT ym, rev,
         first_value(rev) OVER (ORDER BY ym
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS first_rev
  FROM monthly)
SELECT ym, CAST(rev AS DOUBLE) AS revenue,
       (CAST(rev AS DOUBLE) / CAST(first_rev AS DOUBLE)) * 100.0 AS idx
FROM based
ORDER BY ym""",

    "ts_seasonal_profile" -> """WITH hourly AS (
  SELECT event_type, hour(ts)::INT AS hh, count(*)::BIGINT AS n,
         sum(CAST(value AS DECIMAL(12,2))) AS v_sum
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
totals AS (SELECT event_type, sum(n)::BIGINT AS type_total FROM hourly GROUP BY 1)
SELECT h.event_type, h.hh, h.n,
       CAST(v_sum AS DOUBLE) / h.n AS avg_value,
       h.n * 1.0 / t.type_total AS hour_share
FROM hourly h JOIN totals t USING (event_type)
ORDER BY event_type, hh""",

    "win_cumulative_uniques" -> """WITH first_seen AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS event_date
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1),
daily AS (
  SELECT event_date, count(*)::BIGINT AS n_new FROM first_seen GROUP BY 1)
SELECT event_date, n_new,
       CAST(sum(n_new) OVER (ORDER BY event_date
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM daily
ORDER BY event_date""",

    "agg_equidepth_bins" -> s"""WITH binned AS (
  SELECT event_type, value,
         ntile($Bins) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS bin
  FROM events
  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
    AND value IS NOT NULL)
SELECT event_type, bin::INT AS bin, count(*)::BIGINT AS n,
       min(value) AS lo, max(value) AS hi
FROM binned
GROUP BY event_type, bin
ORDER BY event_type, bin""")
}
