package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window/grouping operators beyond the reference's W1-W3 — the rest of the
  * analytic surface a warehouse user reaches for (sliding frames, ranking
  * family, ROLLUP subtotals, pivot). The reference exercises none of these
  * (SURVEY §2.6/2.5 "not present"), so they are extensions, each with a
  * DuckDB oracle twin.
  *
  * Determinism: every window is ordered by a total order (ts + event_id /
  * key tiebreaks); sliding sums/averages go through DECIMAL so frame
  * accumulation order cannot produce float drift between engines.
  */
object WindowExtras extends graft.QueryModule {

  /** Sliding-frame moving average (ROWS BETWEEN 3 PRECEDING AND CURRENT). */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-3, Window.currentRow)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        $"value".cast("decimal(12,2)").as("v"))
      .select($"user_id", $"ts", $"event_id",
        // avg derived from the exact decimal sum: Spark's decimal avg keeps
        // scale 6 while DuckDB's returns double — sum::double / n is the
        // same IEEE operation on both engines
        (sum($"v").over(w).cast("double") / count(lit(1)).over(w))
          .as("moving_avg"),
        // exact decimal accumulation, double on the wire: pandas reads a
        // DECIMAL parquet column as Decimal objects while DuckDB's .df()
        // returns float64 — emit double on both sides (values ≪ 2^53, exact)
        sum($"v").over(w).cast("double").as("moving_sum"),
        count(lit(1)).over(w).as("frame_n"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** Ranking family: rank / dense_rank / ntile / lead over order totals,
    * PER YEAR. The window partitions on the year so every partition ranks
    * independently — no global Window.orderBy, which would sort all
    * surviving rows on a single reducer (the round-3 shape this replaces; at
    * 100× the data that one task is the job). When a truly global rank is
    * needed, use the two-phase [[globalRank]] below.
    */
  def rankFamily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_year")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .filter($"o_totalprice" > 400000)
      .select(year($"o_orderdate").as("o_year"), $"o_orderkey", $"o_totalprice")
      .select($"o_year", $"o_orderkey", $"o_totalprice",
        rank().over(w).as("price_rank"),
        dense_rank().over(w).as("price_dense_rank"),
        ntile(10).over(w).as("decile"),
        lead($"o_orderkey", 1).over(w).as("next_orderkey"))
      .orderBy($"o_year", $"price_rank")
  }

  /** Global rank WITHOUT a global window — the two-phase form the
    * [[rankFamily]] scaladoc names. `ROW_NUMBER() OVER (ORDER BY ...)` with
    * no partition funnels every row through one reducer (the task that IS
    * the job at 100 TB); instead:
    *
    *   1. bucket rows into ordered value bands of the rank key (band
    *      boundaries from a one-row min/max aggregate — a pure function of
    *      the row, unlike `repartitionByRange`, whose sampled boundaries
    *      can differ between the count job and the rank job and silently
    *      misalign the offsets),
    *   2. rank locally inside each band (window partitioned on the band),
    *   3. add each band's global offset (= rows in earlier bands): one
    *      count per band, cumulated driver-side over the band ids — the
    *      same bounded-driver pattern as DupClusters' convergence count —
    *      and joined back by broadcast.
    *
    * local rank + preceding-band count is the row's position in the total
    * order for ANY ordered non-overlapping banding, and the (price,
    * orderkey) key is unique, so the result equals a plain global
    * ROW_NUMBER — which is what makes it oracle-checkable. Bands are 4×
    * the shuffle parallelism; a skewed key would need salted sub-bands
    * ([[graft.functions.SkewJoin]]'s trick) but stays correct regardless.
    */
  def globalRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir).select($"o_orderkey", $"o_totalprice")
    val mm = base.agg(min($"o_totalprice"), max($"o_totalprice")).head()
    if (mm.isNullAt(0)) // empty input: min/max of zero rows is null
      return base.withColumn("global_rank", lit(0L)).limit(0)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val nb = spark.sessionState.conf.numShufflePartitions * 4
    val width = math.max((hi - lo) / nb, java.lang.Double.MIN_VALUE)
    // descending bands: band 0 holds the highest prices
    val banded = base.withColumn("band",
      least(floor((lit(hi) - $"o_totalprice") / width), lit(nb - 1)).cast("int"))
    val w = Window.partitionBy($"band").orderBy($"o_totalprice".desc, $"o_orderkey")
    val local = banded.withColumn("local_rn", row_number().over(w))
    val counts = banded.groupBy($"band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // linear prefix sum over band ids (nb grows with cluster parallelism —
    // a nested re-sum would be O(nb²) driver work)
    val offsets = (0 until nb).scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
      .take(nb).zipWithIndex.map { case (off, b) => (b, off) }.toDF("band", "offset")
    local.join(broadcast(offsets), "band")
      .select($"o_orderkey", $"o_totalprice",
        ($"local_rn" + $"offset").as("global_rank"))
      .orderBy($"global_rank")
  }

  /** ROLLUP subtotals: encounter counts by (year, quarter) with quarter and
    * grand totals (grouping-set markers via GROUPING()).
    */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").as("y"), quarter($"o_orderdate").as("q"))
      .rollup($"y", $"q")
      .agg(count(lit(1)).as("n"),
        grouping($"y").cast("int").as("g_y"),
        grouping($"q").cast("int").as("g_q"))
      .orderBy($"g_y", $"g_q", $"y", $"q")
  }

  /** Conversion funnel: how many users clicked, then signed up AFTER their
    * first click, then purchased AFTER that signup — the ordered-stage
    * analytics every event pipeline ships. ONE pass: per-user first-touch
    * timestamps of each stage are conditional `min`s in a single aggregate
    * (map-side combined), the stage predicates are ordered comparisons on
    * those, and the final rollup is one tiny second aggregate. No joins, no
    * windows, no per-stage scans — at 100 TB this is exactly two shuffles
    * (user rollup, then a 1-row reduce).
    *
    * Ties: a same-timestamp later stage counts (`<=`), matching the oracle;
    * `min(ts)` on timestamps is order-independent so the hash-compare is
    * safe.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "click", $"ts")).as("t_click"),
        min(when($"event_type" === "signup", $"ts")).as("t_signup"),
        min(when($"event_type" === "purchase", $"ts")).as("t_purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when($"t_click".isNotNull, 1L).otherwise(0L)).as("n_clicked"),
      sum(when($"t_click".isNotNull && $"t_signup".isNotNull
        && $"t_click" <= $"t_signup", 1L).otherwise(0L)).as("n_signed_up"),
      sum(when($"t_click".isNotNull && $"t_signup".isNotNull
        && $"t_click" <= $"t_signup" && $"t_purchase".isNotNull
        && $"t_signup" <= $"t_purchase", 1L).otherwise(0L)).as("n_purchased"))
  }

  /** Retention cohorts: users grouped by first-activity day, distinct
    * actives per (cohort, days-since-cohort) — the retention triangle. The
    * first-touch day is a per-user `min` (one aggregate, no window); the
    * cohort matrix is a second groupBy over (cohort_key, day_offset). All
    * integers; `datediff` on the DATE-truncated timestamps matches DuckDB's
    * date subtraction exactly.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", to_date($"ts").as("day"))
    val first = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(first, "user_id")
      .groupBy(
        date_format($"cohort_day", "yyyyMMdd").cast("int").as("cohort_key"),
        datediff($"day", $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_key", $"day_offset")
  }

  /** GROUPING SETS — the heterogeneous-sets aggregate ROLLUP/CUBE cannot
    * express: `((y, q), (status), ())` computes a time breakdown, a status
    * breakdown, and the grand total in ONE pass. Goes through the SQL entry
    * point (the Dataset API deliberately exposes only rollup/cube); plans
    * as a single Expand + one aggregate, so all three groupings share one
    * scan and one shuffle — at 100 TB that is 3 dashboard queries for the
    * price of 1. Per-column GROUPING flags disambiguate super-aggregate
    * NULLs and give the deterministic sort the oracle mirrors.
    */
  def groupingSetsCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").as("y"), quarter($"o_orderdate").as("q"),
        $"o_orderstatus".as("status"))
      .createOrReplaceTempView("graft_orders_gs")
    spark.sql("""SELECT y, q, status, count(*) AS n,
       CAST(grouping(y) AS INT) AS g_y,
       CAST(grouping(q) AS INT) AS g_q,
       CAST(grouping(status) AS INT) AS g_s
FROM graft_orders_gs
GROUP BY GROUPING SETS ((y, q), (status), ())
ORDER BY g_y, g_q, g_s, y, q, status""")
  }

  /** As-of join (attribution): each purchase matched to the user's latest
    * click at-or-before it. Spark has no native ASOF JOIN; the scalable
    * composition is NO join at all — tag both sides, union, and take a
    * running `last(click, ignoreNulls)` over a per-user time window: one
    * shuffle on user_id, state bounded to one row per event, versus the
    * range-join form whose per-user candidate fan-out is quadratic in
    * events-per-user. At equal timestamps the click sorts first (tag
    * ordering), matching ASOF's `>=` bound; clicks are pre-collapsed to one
    * per (user, ts) — max event_id — so tie resolution is deterministic on
    * both engines (DuckDB's ASOF keys on ts alone and would otherwise pick
    * an arbitrary same-ts click).
    */
  def asofClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("click_id"))
      .select($"user_id", $"ts", lit(0).as("tag"), $"click_id",
        $"ts".as("click_ts"), lit(null).cast("bigint").as("event_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(1).as("tag"),
        lit(null).cast("bigint").as("click_id"),
        lit(null).cast("timestamp").as("click_ts"), $"event_id")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("prior_click_id", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("prior_click_ts", last($"click_ts", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"event_id", $"user_id", $"ts", $"prior_click_id", $"prior_click_ts")
      .orderBy($"event_id")
  }

  /** Heavy hitters via Count-Min sketch beside their exact twin. The CMS is
    * built distributed (one merge-commutative sketch per partition, fixed
    * seed → deterministic for any partition arrangement); only the fixed-
    * width sketch and the 10 top-k rows touch the driver. The contract the
    * oracle hash-checks: CMS never under-counts, and over-counts by at most
    * eps·N with the configured confidence — `est ∈ [n_exact, n_exact +
    * eps·N]`. At 100 TB the sketch replaces the exact per-key count's
    * shuffle with a scan + tiny merge, the same trade as
    * [[approxStats]]'s HLL.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val eps = 0.001
    val cms = ev.stat.countMinSketch("user_id", eps, 0.99, 42)
    val total = cms.totalCount() // N rides along in the sketch — no extra scan
    val topk = ev.groupBy($"user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy($"n_exact".desc, $"user_id").limit(10).collect()
    topk.toSeq.map { r =>
      val u = r.getLong(0)
      val n = r.getLong(1)
      val est = cms.estimateCount(u)
      (u, n, est >= n && est <= n + (eps * total).toLong)
    }.toDF("user_id", "n_exact", "cms_ok")
      .orderBy($"n_exact".desc, $"user_id")
  }

  /** Banded range join: events classified into value TIERS (disjoint
    * [lo, hi) intervals that don't align to any convenient modulus). The
    * naive `point BETWEEN lo AND hi` join has no equi-key, so Spark plans a
    * BroadcastNestedLoopJoin — every (row × interval) pair evaluated, the
    * O(n·m) shape that dies when the interval side grows. The scale form:
    * overlay a fixed grid, explode each interval to the grid cells it
    * covers (bounded fan-out = interval width / cell width), map each point
    * to its one cell, hash equi-join on the cell, then refine with the
    * exact bounds. A PlanSpec gate pins the equi-join. Same technique for
    * time-interval joins (IP ranges, validity windows, genomic intervals).
    */
  def rangeBandJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cell = 5.0
    // tiers partition [0, 100): boundaries deliberately off-grid
    val tiers = Seq(("bronze", 0.0, 17.0), ("silver", 17.0, 38.0),
      ("gold", 38.0, 61.0), ("platinum", 61.0, 86.0), ("diamond", 86.0, 100.01))
      .toDF("tier", "lo", "hi")
    val tierCells = tiers.withColumn("cell",
      explode(sequence(floor($"lo" / cell).cast("int"),
        floor(($"hi" - lit(1e-9)) / cell).cast("int"))))
    Tables.events(spark, dir)
      .select($"event_id", $"value",
        floor($"value" / cell).cast("int").as("cell"))
      .join(broadcast(tierCells), "cell")
      .filter($"value" >= $"lo" && $"value" < $"hi")
      .select($"event_id", $"value", $"tier")
      .orderBy($"event_id")
  }

  /** CUBE: every grouping-set combination of (year, order status) —
    * subtotals along both axes plus the grand total, with GROUPING()
    * markers (the full-lattice sibling of [[rollupCounts]]).
    */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").as("y"), $"o_orderstatus".as("status"))
      .cube($"y", $"status")
      .agg(count(lit(1)).as("n"),
        grouping($"y").cast("int").as("g_y"),
        grouping($"status").cast("int").as("g_s"))
      .orderBy($"g_y", $"g_s", $"y", $"status")
  }

  /** INTERSECT / EXCEPT set semantics (distinct forms), tagged and stacked
    * into one frame: users who both click and purchase, and users who click
    * but never purchase. Set ops hash-shuffle on the full row — fine here
    * (the operands are already-distinct key sets, the shape to keep at
    * scale: dedup BEFORE the set op, not after).
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click").select($"user_id").distinct()
    val buys = ev.filter($"event_type" === "purchase").select($"user_id").distinct()
    clicks.intersect(buys).withColumn("set_op", lit("intersect"))
      .unionByName(clicks.except(buys).withColumn("set_op", lit("except")))
      .select($"set_op", $"user_id")
      .orderBy($"set_op", $"user_id")
  }

  /** Pivot: per-user-bucket event-type counts as columns (explicit value
    * list so the output schema is fixed).
    */
  def pivotEventTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(pmod($"user_id", lit(10)).as("user_bucket"), $"event_type")
      .groupBy($"user_bucket")
      .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_bucket")
  }

  /** Approximate aggregates — the 100 TB scale path for the exact
    * COUNT(DISTINCT) family (A2). An exact distinct count shuffles every
    * distinct (group, key) pair; HyperLogLog++ / quantile sketches are
    * fixed-width partial aggregates (map-side combine, one small sketch row
    * per group through the shuffle), which is what turns a 100 TB distinct
    * count from a shuffle explosion into a scan.
    *
    * Verification: sketches aren't reproducible across engines, so the
    * checked output carries the exact values plus booleans asserting each
    * sketch landed within its documented error (rsd 1 % → 5 % bound with an
    * absolute-1 floor; approx median within 0.5 of the exact interpolated
    * median — the value grid is 0.01-spaced, so the discrete-vs-interpolated
    * gap is ≪ that). The DuckDB oracle recomputes the exact side and pins
    * the contract columns to TRUE: the accuracy contract itself is what
    * gets hash-checked.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    // two single-purpose aggregates joined on the tiny group key, NOT one
    // combined agg: mixing a distinct aggregate with the sketch/percentile
    // buffers makes Catalyst Expand-duplicate every input row through the
    // wide buffers (measured 3× slower at sf0.1) — and each split scan
    // prunes to just its own column. The HLL sketch rides the PERCENTILE
    // aggregate, not the distinct one: Catalyst plans countDistinct as a
    // first-level aggregate AT (event_type, user_id) GRAIN, and a sketch
    // placed beside it is dragged through every one of those ~|users|
    // groups as a multi-KB partial buffer (r13: 2.2 s warm with the sketch
    // there vs 0.7 s here, where it shares the |event_type|-group pass)
    val distincts = ev.groupBy($"event_type").agg(
      count(lit(1)).as("n_events"),
      countDistinct($"user_id").as("n_users_exact"))
    val percentiles = ev.groupBy($"event_type").agg(
      approx_count_distinct($"user_id", 0.01).as("n_users_approx"),
      expr("percentile(value, 0.5)").as("p50_exact"),
      percentile_approx($"value", lit(0.5), lit(10000)).as("p50_approx"))
    distincts.join(broadcast(percentiles), "event_type")
      .select($"event_type", $"n_events", $"n_users_exact",
        (abs($"n_users_approx" - $"n_users_exact") <=
          greatest($"n_users_exact" * 0.05, lit(1.0))).as("approx_distinct_ok"),
        (abs($"p50_approx" - $"p50_exact") <= 0.5).as("p50_ok"))
      .orderBy($"event_type")
  }

  /** Rolling distinct actives (trailing 7-day DAU/WAU): COUNT(DISTINCT) over
    * a sliding date window. Spark's window frames cannot hold a DISTINCT
    * aggregate, and the naive day-range self-join fans out |days|×|days|/2.
    * The scale shape is: dedup FIRST to (day, user) pairs (the big shuffle,
    * but on pre-shrunk data), then each pair contributes to exactly 7 target
    * days (bounded explode — fan-out is the window length, a constant), then
    * one distinct-count per target day. Works identically for 30/90-day
    * windows and at any corpus size; the explode factor is the window
    * length, never the data.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = Tables.events(spark, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val observed = du.select($"day").distinct()
    val daily = du.groupBy($"day")
      .agg(countDistinct($"user_id").as("n_active_1d"))
    val contrib = du
      .select($"user_id", explode(sequence(lit(0), lit(6))).as("g"),
        $"day")
      .select($"user_id", date_add($"day", $"g").as("day"))
      // only emit observed days (a trailing window needs no future padding)
      .join(broadcast(observed), Seq("day"))
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("n_active_7d"))
    daily.join(contrib, Seq("day"))
      .select($"day", $"n_active_1d", $"n_active_7d")
      .orderBy($"day")
  }

  /** Peak concurrency per day via an interval SWEEP — the "how many
    * sessions were open at once" gauge (license seats, connection pools,
    * concurrent viewers). Each user-day activity interval [first ts,
    * last ts] contributes a +1 at its start and a −1 at its end; a running
    * sum over the merged boundary stream IS the concurrency curve, and its
    * per-day max is the peak. The naive form — join every interval against
    * every overlapping interval — fans out quadratically in the busiest
    * hour; the sweep is linear: 2 rows per interval through one
    * day-partitioned window.
    *
    * Determinism: boundaries order by (t, delta DESC, user_id) — a total
    * order, with all +1s before −1s at equal t, so touching intervals count
    * as overlapping (inclusive semantics) on both engines. All integers.
    *
    * Scale: the window partitions by DAY (bounded state, parallel across
    * days, never global); intervals derive from a (day, user) aggregate
    * that map-side combines. A single day so hot that its 2·|intervals|
    * boundary rows swamp one reducer would sub-split by hour and merge
    * per-hour running sums with hour-boundary offsets — the
    * [[globalRank]] band device on the time axis.
    */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .groupBy(to_date($"ts").as("day"), $"user_id")
      .agg(min($"ts").as("t_start"), max($"ts").as("t_end"))
    val deltas = iv
      .select($"day", $"user_id", $"t_start".as("t"), lit(1).as("delta"))
      .unionByName(
        iv.select($"day", $"user_id", $"t_end".as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy($"day").orderBy($"t", $"delta".desc, $"user_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("conc", sum($"delta").over(w))
      .groupBy($"day")
      .agg(
        max($"conc").as("peak_concurrent"),
        sum(when($"delta" === 1, 1L).otherwise(0L)).as("n_intervals"))
      .orderBy($"day")
  }

  /** Outlier threshold in standard deviations — ONE definition for the
    * Spark flag and the oracle SQL.
    */
  val OutlierZ = 2.0

  /** Volume-anomaly ledger: every day's event count z-scored against the
    * corpus mean, outliers flagged at |z| > [[OutlierZ]] — the ingest-
    * monitoring probe that catches a collapsed feed or a duplicate-replay
    * spike. Emits the full ledger (flag, not filter) so quiet corpora still
    * verify.
    *
    * Float parity (the hash-compare discipline): mean and variance derive
    * ONLY from integer sums (Σc, Σc², n — associative, any parallelism),
    * combined in one fixed expression order; sqrt is correctly rounded by
    * IEEE spec. No float ever crosses a shuffle. Zero-variance corpora emit
    * z = 0 explicitly rather than a 0/0 NaN (NaN stringification differs
    * across engines).
    *
    * Scale: daily counts are one map-side-combined shuffle on date_key;
    * the stats row is O(1) and broadcasts back; at 100 TB this is a scan
    * plus a |days|-row ledger.
    */
  def outlierDays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select(date_format($"ts", "yyyyMMdd").cast("int").as("date_key"))
      .groupBy($"date_key")
      .agg(count(lit(1)).as("n_events"))
    val stats = daily.agg(
      count(lit(1)).as("n_days"),
      sum($"n_events").as("s1"),
      sum($"n_events" * $"n_events").as("s2"))
    daily.crossJoin(broadcast(stats))
      .withColumn("mean_events", $"s1".cast("double") / $"n_days".cast("double"))
      .withColumn("std_events", sqrt(
        ($"s2".cast("double")
          - $"s1".cast("double") * $"s1".cast("double") / $"n_days".cast("double"))
          / $"n_days".cast("double")))
      .withColumn("z", when($"std_events" > 0,
        ($"n_events".cast("double") - $"mean_events") / $"std_events")
        .otherwise(lit(0.0)))
      .select($"date_key", $"n_events", $"mean_events", $"std_events", $"z",
        (abs($"z") > OutlierZ).as("is_outlier"))
      .orderBy($"date_key")
  }

  /** Audience-overlap report from MERGED KMV sketches — the set-operation
    * payoff of [[kmvDistinct]]'s estimator: Jaccard / union-size estimates
    * for every event-type pair computed ENTIRELY from the per-type k-min
    * sketches (k rows each), never from the user sets. This is the sketch
    * algebra that makes overlap dashboards tractable at 100 TB: one corpus
    * pass builds |types| sketches of [[KmvK]] hashes; every pairwise (or
    * n-way) overlap after that is arithmetic on k-element arrays. The
    * estimator: merge two sketches, keep the k smallest of the union —
    * that IS the union's KMV sketch — and the fraction of those present in
    * both inputs estimates Jaccard (exact when everything is unsaturated,
    * ±1/√k otherwise; the spec pins the error against the exact sets).
    * Hashes are the same md5-derived h32 as [[kmvDistinct]], so both
    * engines replay the identical sketch bit-for-bit.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = Tables.events(spark, dir).select($"event_type",
      graft.functions.Md5Hash
        .h32(concat(lit("kmv:"), $"user_id".cast("string"))).as("h"))
      .distinct()
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val sketches = hashes
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= KmvK)
      .groupBy($"event_type")
      .agg(sort_array(collect_list($"h")).as("sk"))
    val a = sketches.select($"event_type".as("type_x"), $"sk".as("sk_a"))
    val b = sketches.select($"event_type".as("type_y"), $"sk".as("sk_b"))
    a.crossJoin(b).filter($"type_x" < $"type_y")
      .withColumn("merged", array_sort(array_union($"sk_a", $"sk_b")))
      .withColumn("k_used", least(lit(KmvK), size($"merged")))
      .withColumn("u", slice($"merged", lit(1), $"k_used"))
      .withColumn("n_shared",
        size(array_intersect(array_intersect($"u", $"sk_a"), $"sk_b")))
      .withColumn("j_kmv", $"n_shared".cast("double") / $"k_used")
      .withColumn("union_est",
        when(size($"sk_a") < KmvK && size($"sk_b") < KmvK,
          size($"merged").cast("double"))
          .otherwise(($"k_used" - 1).cast("double") * lit(4294967296.0)
            / element_at($"merged", $"k_used")))
      .select($"type_x", $"type_y", $"k_used".cast("bigint").as("k_used"),
        $"n_shared".cast("bigint").as("n_shared"), $"j_kmv", $"union_est")
      .orderBy($"type_x", $"type_y")
  }

  /** N-WAY sketch-algebra report — the other half of the set-operation
    * dashboard beside [[kmvOverlap]]'s pairwise rows: ONE row estimating
    * the union and intersection cardinality of ALL event types' user sets,
    * computed entirely from the per-type k-min sketches. The n-way KMV
    * estimator: the k smallest of the union of per-type sketches IS the
    * union's KMV sketch (any of the k smallest global hashes is among the
    * k smallest of its own type, so per-type sketches lose nothing);
    * union_est follows the (k−1)/p_k rule (exact when every input sketch
    * is unsaturated), and the fraction of the union sketch present in
    * EVERY type's sketch estimates the n-way Jaccard, whence
    * intersection ≈ j · union. At 100 TB the inputs are |types| k-row
    * sketches — the report costs arithmetic on ≤ |types|·k rows no matter
    * the corpus size; nothing here rescans the user sets.
    */
  def kmvNway(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = Tables.events(spark, dir).select($"event_type",
      graft.functions.Md5Hash
        .h32(concat(lit("kmv:"), $"user_id".cast("string"))).as("h"))
      .distinct()
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val skRows = hashes
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= KmvK)
      .select($"event_type", $"h")
    val typeStats = skRows.groupBy($"event_type").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_types"), max($"sz").as("max_sz"))
    val merged = skRows.select($"h").distinct()
    val mergedSize = merged.agg(count(lit(1)).as("n_merged"))
    // global k-min over ≤ |types|·k rows — the single-partition window is
    // sketch-sized by construction, never corpus-sized
    val uni = merged
      .withColumn("urn", row_number().over(Window.orderBy($"h")))
      .filter($"urn" <= KmvK)
    val uniStats = uni.agg(count(lit(1)).as("k_used"), max($"h").as("h_k"))
    val nInAll = uni.join(skRows, "h")
      .groupBy($"h").agg(count(lit(1)).as("nt"))
      .crossJoin(broadcast(typeStats.select($"n_types".as("nt_all"))))
      .filter($"nt" === $"nt_all")
      .agg(count(lit(1)).as("n_in_all"))
    typeStats.crossJoin(uniStats).crossJoin(nInAll).crossJoin(mergedSize)
      .withColumn("j_nway",
        $"n_in_all".cast("double") / $"k_used".cast("double"))
      .withColumn("union_est",
        when($"max_sz" < KmvK, $"n_merged".cast("double"))
          .otherwise(($"k_used" - 1).cast("double") * lit(4294967296.0)
            / $"h_k"))
      .select($"n_types", $"k_used", $"n_in_all", $"j_nway", $"union_est",
        ($"j_nway" * $"union_est").as("intersect_est"))
  }

  /** Suppliers reported by [[paretoSuppliers]] — one value, both engines. */
  val ParetoTopN = 25

  /** Revenue-concentration (Pareto) curve: suppliers ranked by discounted
    * revenue with each rank's CUMULATIVE share of total — the 80/20 view
    * procurement and risk dashboards read ("how few suppliers carry most
    * of the volume"). Money runs in DECIMAL end to end (the TPC-H kernel:
    * cast-before-multiply, exact associative sums) and only the final
    * share division is a double, so the curve hash-compares. The ranking
    * window is GLOBAL but over the supplier-sized aggregate, not lineitem
    * rows — the same bounded-window argument as the vocabulary ranking;
    * at larger supplier counts the two-phase banded rank
    * ([[globalRank]]'s device) swaps in unchanged.
    */
  def paretoSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val discPrice = "CAST(l_extendedprice AS DECIMAL(14,2)) * " +
      "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg(expr(s"sum($discPrice)").as("rev"))
    val ord = Window.orderBy($"rev".desc, $"l_suppkey")
    val cumW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rev.agg(sum($"rev").as("total"))
    rev
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum_rev", sum($"rev").over(cumW))
      .crossJoin(broadcast(tot))
      .filter($"rank" <= ParetoTopN)
      .select($"rank", $"l_suppkey".as("s_suppkey"),
        $"rev".cast("double").as("revenue"),
        ($"cum_rev".cast("double") / $"total".cast("double")).as("cum_share"))
      .orderBy($"rank")
  }

  /** Winsorization bounds in per-mille (5th / 95th percentile) — integer
    * constants shared by both engines so the rank arithmetic stays exact.
    */
  val WinsorLoPm = 50
  val WinsorHiPm = 950

  /** Winsorized mean per event type — the robust location estimate a
    * metrics pipeline reports when heavy tails poison the plain average:
    * clamp every value to the exact [p05, p95] order statistics, then
    * average. Raw mean rides along for contrast.
    *
    * Float parity: the percentile bounds are SELECTED data points (k-th
    * smallest, k = ⌈n·p/1000⌉ computed in integer arithmetic — IEEE
    * `ceil(n*0.05)` can land one rank off when the product sits just above
    * an integer); clamping is min/max selection; both sums accumulate in
    * DECIMAL so nothing order-dependent crosses the shuffle; each mean is
    * one double division performed identically on both engines.
    *
    * Scale: same shape as [[groupPercentiles]] — a group-partitioned
    * ranking window (the honest cost of exact quantiles; sketches are the
    * wide-group alternative), a 5-row bounds broadcast back, and one
    * map-side-combinable decimal aggregate.
    */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", $"event_id", $"value")
    val sizes = ev.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val ks = sizes
      .withColumn("k_lo", expr(s"(n * $WinsorLoPm + 999) div 1000"))
      .withColumn("k_hi", expr(s"(n * $WinsorHiPm + 999) div 1000"))
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val bounds = ev.withColumn("rn", row_number().over(w))
      .join(broadcast(ks), "event_type")
      .filter($"rn" === $"k_lo" || $"rn" === $"k_hi")
      .groupBy($"event_type", $"n")
      .agg(
        min(when($"rn" === $"k_lo", $"value")).as("p_lo"),
        min(when($"rn" === $"k_hi", $"value")).as("p_hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("clamped",
        least(greatest($"value", $"p_lo"), $"p_hi").cast("decimal(12,2)"))
      .groupBy($"event_type", $"n", $"p_lo", $"p_hi")
      .agg(
        (sum($"clamped").cast("double") / $"n".cast("double"))
          .as("winsorized_mean"),
        (sum($"value".cast("decimal(12,2)")).cast("double")
          / $"n".cast("double")).as("raw_mean"))
      .select($"event_type", $"n", $"p_lo", $"p_hi", $"winsorized_mean",
        $"raw_mean")
      .orderBy($"event_type")
  }

  /** Gap-fill user sample gate — one definition for both engines. */
  val GapFillUserMod = 10

  /** Calendar densification + LOCF gap fill: per-user daily activity over
    * the corpus's FULL date span, missing days materialized and filled with
    * the last observed value (last-observation-carried-forward) — the
    * sparse-to-dense step before any per-entity time-series model. Three
    * bounded pieces: a daily count aggregate (integer, shuffle-safe), a
    * `sequence()`-generated calendar cross-joined per user (the dim_time
    * trick, span arrives as a broadcast scalar row — no driver round-trip),
    * and an `ignoreNulls` running `last` per user. The LOCF window is
    * user-partitioned, never global; counts are integers so nothing
    * float-drifts through the shuffle.
    */
  def gapFillLocf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
      .filter($"user_id" % GapFillUserMod === 0 && $"ts".isNotNull)
    val daily = events.groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val span = events.agg(to_date(min($"ts")).as("d0"), to_date(max($"ts")).as("d1"))
    val calendar = daily.select($"user_id").distinct()
      .crossJoin(broadcast(span))
      .select($"user_id",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce(last($"n_events", ignoreNulls = true).over(w), lit(0L))
          .as("n_events_filled"),
        $"n_events".isNull.as("was_gap"))
      .orderBy($"user_id", $"day")
  }

  /** Exact per-group percentiles as ORDER STATISTICS (k-th smallest, k =
    * ⌈q·n⌉) — no interpolation, so the emitted values are actual data
    * points and the float hash-compare is trivially safe (selection, not
    * arithmetic). One group-partitioned ranking window + a broadcast of
    * the 5-row group sizes; the per-group sort is the honest cost of exact
    * group quantiles (the approximate path for wide groups is
    * `agg_approx_stats`' sketches — both live side by side deliberately).
    */
  def groupPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val ranked = events.select($"event_type", $"value", $"event_id")
      .withColumn("rn", row_number().over(w).cast("bigint"))
    val sizes = events.groupBy($"event_type").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(sizes), "event_type")
      .withColumn("k50", ceil($"n" * lit(0.5)).cast("bigint"))
      .withColumn("k90", ceil($"n" * lit(0.9)).cast("bigint"))
      .filter($"rn" === $"k50" || $"rn" === $"k90")
      .groupBy($"event_type", $"n")
      .agg(min(when($"rn" === $"k50", $"value")).as("p50_exact"),
        min(when($"rn" === $"k90", $"value")).as("p90_exact"))
      .orderBy($"event_type")
  }

  /** Consecutive-day activity streaks — the gaps-and-islands idiom in its
    * canonical form: distinct active days per user, then `day − row_number`
    * as the island key (consecutive days share it, any gap shifts it), then
    * one rollup per island. Two shuffles total (user-partitioned ranking
    * window + the island groupBy); no self-joins, no recursion — the shape
    * the reference would need a recursive CTE for. Complements
    * `etl_sessionize` (timestamp-gap sessions) at calendar grain.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    daily.withColumn("grp", expr("date_sub(day, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY day))"))
      .groupBy($"user_id", $"grp")
      .agg(min($"day").as("streak_start"), max($"day").as("streak_end"),
        count(lit(1)).as("streak_days"))
      .select($"user_id", $"streak_start", $"streak_end", $"streak_days")
      .orderBy($"user_id", $"streak_start")
  }

  /** KMV sketch size — one definition, both engines. */
  val KmvK = 32

  /** K-minimum-values distinct estimator beside its exact twin — the
    * THEORY behind [[graft.functions.BottomK]]'s sketch made queryable:
    * keep the k smallest hash values of a set; the k-th smallest, scaled
    * to (0,1], estimates cardinality as (k−1)/p_k with σ ≈ 1/√k. Unlike
    * `approx_count_distinct` (opaque HLL registers) the KMV sketch is
    * md5-deterministic, so the whole estimator — hash, k-th order
    * statistic, estimate — is reproduced bit-for-bit by the DuckDB twin
    * and hash-checked. The ranking window is group-partitioned; the
    * estimate is one double division.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val hashes = events.select($"event_type",
      graft.functions.Md5Hash
        .h32(concat(lit("kmv:"), $"user_id".cast("string"))).as("h"))
      .distinct()
    val counts = hashes.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hashes"))
    val w = Window.partitionBy($"event_type").orderBy($"h")
    // unsaturated sketch (< k distinct hashes): the whole set IS the
    // sketch and the count is exact — take the last hash and report the
    // count, the standard small-set branch of the KMV estimator
    val kth = hashes.join(broadcast(counts), Seq("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === least(lit(KmvK), $"n_hashes"))
      .select($"event_type", $"h".as("hk"), $"n_hashes")
    val exact = events.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    exact.join(kth, Seq("event_type"))
      .withColumn("kmv_estimate",
        when($"n_hashes" < KmvK, $"n_hashes".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * 4294967296.0) / $"hk"))
      .select($"event_type", $"n_exact", $"hk", $"kmv_estimate")
      .orderBy($"event_type")
  }

  /** [[kmvDistinct]]'s estimator as the native [[graft.functions.KmvAgg]]
    * TypedImperativeAggregate — ONE aggregate instead of
    * DISTINCT→rank→k-th: map-side partials carry at most [[KmvK]] longs
    * per group through the shuffle. Same hash, same estimator, same
    * oracle arithmetic; equality with the composed form is what the
    * DuckDB hash-compare proves.
    */
  def kmvNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    Tables.events(spark, dir)
      .select($"event_type", graft.functions.Md5Hash
        .h32(concat(lit("kmv:"), $"user_id".cast("string"))).as("h"))
      .groupBy($"event_type")
      .agg(expr("graft_kmv(h)").as("kmv_estimate"))
      .orderBy($"event_type")
  }

  /** Histogram bin width (value units) — one definition, both engines. */
  val HistBinWidth = 25.0

  /** Fixed-width value histogram: floor-bucket the measure, count per bin,
    * carry the bin edges. One map-side floor + one histogram-sized
    * aggregate — the distribution profile (Q13 is the distribution of
    * COUNTS; this is the distribution of VALUES). Bin index from one IEEE
    * division + floor, identical text both engines, so the bucketing can't
    * drift cross-engine even at bin boundaries.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(floor($"value" / HistBinWidth).cast("bigint").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"))
      .select($"bin", ($"bin" * HistBinWidth).as("bin_lo"),
        (($"bin" + 1) * HistBinWidth).as("bin_hi"), $"n")
      .orderBy($"bin")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_value_histogram" -> (valueHistogram _),
    "agg_kmv_distinct" -> (kmvDistinct _),
    "agg_kmv_native" -> (kmvNative _),
    "agg_kmv_overlap" -> (kmvOverlap _),
    "agg_kmv_nway" -> (kmvNway _),
    "agg_pareto_suppliers" -> (paretoSuppliers _),
    "win_activity_streaks" -> (activityStreaks _),
    "win_max_concurrency" -> (maxConcurrency _),
    "agg_winsorized_mean" -> (winsorizedMean _),
    "win_group_percentiles" -> (groupPercentiles _),
    "win_gap_fill_locf" -> (gapFillLocf _),
    "agg_outlier_days" -> (outlierDays _),
    "agg_rolling_active_users" -> (rollingActiveUsers _),
    "agg_approx_stats" -> (approxStats _),
    "win_moving_avg" -> (movingAvg _),
    "win_rank_family" -> (rankFamily _),
    "win_global_rank" -> (globalRank _),
    "agg_rollup" -> (rollupCounts _),
    "agg_cube" -> (cubeCounts _),
    "agg_grouping_sets" -> (groupingSetsCounts _),
    "agg_funnel" -> (funnel _),
    "agg_retention_cohorts" -> (retentionCohorts _),
    "join_asof_attribution" -> (asofClickAttribution _),
    "join_range_banded" -> (rangeBandJoin _),
    "agg_heavy_hitters" -> (heavyHitters _),
    "setops_intersect_except" -> (setOps _),
    "agg_pivot_event_types" -> (pivotEventTypes _))

  val oracle: Map[String, String] = Map(
    "agg_value_histogram" -> s"""WITH b AS (
  SELECT CAST(floor(value / $HistBinWidth) AS BIGINT) AS bin
  FROM events)
SELECT bin, bin * $HistBinWidth AS bin_lo,
       (bin + 1) * $HistBinWidth AS bin_hi,
       count(*)::BIGINT AS n
FROM b GROUP BY bin
ORDER BY bin""",

    "agg_winsorized_mean" -> s"""WITH ev AS (
  SELECT event_type, event_id, value FROM events),
sizes AS (SELECT event_type, count(*)::BIGINT AS n FROM ev GROUP BY 1),
ks AS (
  SELECT event_type, n,
         (n * $WinsorLoPm + 999) // 1000 AS k_lo,
         (n * $WinsorHiPm + 999) // 1000 AS k_hi
  FROM sizes),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id)::BIGINT AS rn
  FROM ev),
bounds AS (
  SELECT r.event_type, k.n,
         min(CASE WHEN rn = k_lo THEN value END) AS p_lo,
         min(CASE WHEN rn = k_hi THEN value END) AS p_hi
  FROM ranked r JOIN ks k USING (event_type)
  WHERE rn = k_lo OR rn = k_hi
  GROUP BY r.event_type, k.n)
SELECT e.event_type, b.n, b.p_lo, b.p_hi,
       CAST(sum(CAST(least(greatest(e.value, b.p_lo), b.p_hi)
                     AS DECIMAL(12,2))) AS DOUBLE)
         / CAST(b.n AS DOUBLE) AS winsorized_mean,
       CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE)
         / CAST(b.n AS DOUBLE) AS raw_mean
FROM ev e JOIN bounds b USING (event_type)
GROUP BY e.event_type, b.n, b.p_lo, b.p_hi
ORDER BY e.event_type""",

    "win_max_concurrency" -> """WITH iv AS (
  SELECT ts::DATE AS day, user_id, min(ts) AS t_start, max(ts) AS t_end
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2),
deltas AS (
  SELECT day, user_id, t_start AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT day, user_id, t_end AS t, -1 AS delta FROM iv),
sweep AS (
  SELECT day, delta,
         sum(delta) OVER (PARTITION BY day
                          ORDER BY t, delta DESC, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS conc
  FROM deltas)
SELECT day, max(conc)::BIGINT AS peak_concurrent,
       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_intervals
FROM sweep GROUP BY day ORDER BY day""",

    "win_activity_streaks" -> """WITH daily AS (
  SELECT DISTINCT user_id, ts::DATE AS day
  FROM events WHERE ts IS NOT NULL),
grp AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)::INT
           AS g
  FROM daily)
SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
       count(*)::BIGINT AS streak_days
FROM grp
GROUP BY user_id, g
ORDER BY user_id, streak_start""",

    "agg_kmv_distinct" -> s"""WITH h AS (
  SELECT DISTINCT event_type,
         ${graft.functions.Md5Hash.h32Sql("'kmv:' || CAST(user_id AS VARCHAR)")}
           AS h
  FROM events),
hs AS (SELECT event_type, count(*)::BIGINT AS n_hashes FROM h GROUP BY 1),
kth AS (
  SELECT event_type, h AS hk, n_hashes
  FROM (SELECT h.event_type, h.h, hs.n_hashes,
               row_number() OVER (PARTITION BY h.event_type ORDER BY h.h)
                 AS rn
        FROM h JOIN hs USING (event_type))
  WHERE rn = least($KmvK, n_hashes)),
exact AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
  FROM events GROUP BY 1)
SELECT e.event_type, n_exact, hk,
       CASE WHEN n_hashes < $KmvK THEN n_hashes::DOUBLE
            ELSE ${(KmvK - 1).toDouble * 4294967296.0} / hk END
         AS kmv_estimate
FROM exact e JOIN kth USING (event_type)
ORDER BY e.event_type""",

    "agg_kmv_native" -> s"""WITH h AS (
  SELECT DISTINCT event_type,
         ${graft.functions.Md5Hash.h32Sql("'kmv:' || CAST(user_id AS VARCHAR)")}
           AS h
  FROM events),
hs AS (SELECT event_type, count(*)::BIGINT AS n_hashes FROM h GROUP BY 1),
kth AS (
  SELECT event_type, h AS hk, n_hashes
  FROM (SELECT h.event_type, h.h, hs.n_hashes,
               row_number() OVER (PARTITION BY h.event_type ORDER BY h.h)
                 AS rn
        FROM h JOIN hs USING (event_type))
  WHERE rn = least($KmvK, n_hashes))
SELECT event_type,
       CASE WHEN n_hashes < $KmvK THEN n_hashes::DOUBLE
            ELSE ${(KmvK - 1).toDouble * 4294967296.0} / greatest(hk, 1) END
         AS kmv_estimate
FROM kth
ORDER BY event_type""",

    "agg_kmv_overlap" -> s"""WITH h AS (
  SELECT DISTINCT event_type,
         ${graft.functions.Md5Hash.h32Sql("'kmv:' || CAST(user_id AS VARCHAR)")}
           AS h
  FROM events),
sk AS (
  SELECT event_type, list_sort(list(h)) AS sk
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h)
  WHERE rn <= $KmvK
  GROUP BY event_type),
p AS (
  SELECT a.event_type AS type_x, b.event_type AS type_y,
         a.sk AS sk_a, b.sk AS sk_b,
         list_sort(list_distinct(list_concat(a.sk, b.sk))) AS merged
  FROM sk a JOIN sk b ON a.event_type < b.event_type),
k AS (
  SELECT type_x, type_y, sk_a, sk_b, merged,
         least($KmvK, len(merged))::BIGINT AS k_used
  FROM p),
u AS (
  SELECT type_x, type_y, sk_a, sk_b, merged, k_used,
         len(list_intersect(list_intersect(
               list_slice(merged, 1, k_used), sk_a), sk_b))::BIGINT
           AS n_shared
  FROM k)
SELECT type_x, type_y, k_used, n_shared,
       n_shared::DOUBLE / k_used AS j_kmv,
       CASE WHEN len(sk_a) < $KmvK AND len(sk_b) < $KmvK
            THEN len(merged)::DOUBLE
            ELSE (k_used - 1)::DOUBLE * 4294967296.0 / merged[k_used] END
         AS union_est
FROM u
ORDER BY type_x, type_y""",

    "agg_kmv_nway" -> s"""WITH h AS (
  SELECT DISTINCT event_type,
         ${graft.functions.Md5Hash.h32Sql("'kmv:' || CAST(user_id AS VARCHAR)")}
           AS h
  FROM events),
sk AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h)
  WHERE rn <= $KmvK),
ts AS (
  SELECT count(*)::BIGINT AS n_types, max(sz) AS max_sz
  FROM (SELECT event_type, count(*) AS sz FROM sk GROUP BY 1)),
m AS (SELECT DISTINCT h FROM sk),
ms AS (SELECT count(*)::BIGINT AS n_merged FROM m),
uni AS (
  SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS urn FROM m)
  WHERE urn <= $KmvK),
ua AS (SELECT count(*)::BIGINT AS k_used, max(h) AS h_k FROM uni),
ia AS (
  SELECT count(*)::BIGINT AS n_in_all
  FROM (SELECT uni.h, count(*) AS nt FROM uni JOIN sk USING (h) GROUP BY 1) x,
       ts
  WHERE x.nt = ts.n_types)
SELECT ts.n_types, ua.k_used, ia.n_in_all,
       ia.n_in_all::DOUBLE / ua.k_used AS j_nway,
       CASE WHEN ts.max_sz < $KmvK THEN ms.n_merged::DOUBLE
            ELSE (ua.k_used - 1)::DOUBLE * 4294967296.0 / ua.h_k END
         AS union_est,
       (ia.n_in_all::DOUBLE / ua.k_used) *
       (CASE WHEN ts.max_sz < $KmvK THEN ms.n_merged::DOUBLE
             ELSE (ua.k_used - 1)::DOUBLE * 4294967296.0 / ua.h_k END)
         AS intersect_est
FROM ts, ua, ia, ms""",

    "agg_pareto_suppliers" -> s"""WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
             (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
           AS rev
  FROM lineitem GROUP BY 1),
tot AS (SELECT sum(rev) AS total FROM rev),
ranked AS (
  SELECT l_suppkey, rev,
         row_number() OVER (ORDER BY rev DESC, l_suppkey)::INT AS rank,
         sum(rev) OVER (ORDER BY rev DESC, l_suppkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev
  FROM rev)
SELECT rank, l_suppkey AS s_suppkey,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM ranked, tot
WHERE rank <= $ParetoTopN
ORDER BY rank""",

    "win_group_percentiles" -> """WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id)::BIGINT AS rn
  FROM events),
sizes AS (SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY 1)
SELECT r.event_type, s.n,
       min(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END)
         AS p50_exact,
       min(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END)
         AS p90_exact
FROM ranked r JOIN sizes s USING (event_type)
WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
   OR rn = CAST(ceil(n * 0.9) AS BIGINT)
GROUP BY r.event_type, s.n
ORDER BY r.event_type""",

    "win_gap_fill_locf" -> s"""WITH ev AS (
  SELECT user_id, ts FROM events
  WHERE user_id % $GapFillUserMod = 0 AND ts IS NOT NULL),
daily AS (
  SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM ev GROUP BY 1, 2),
span AS (SELECT min(ts)::DATE AS d0, max(ts)::DATE AS d1 FROM ev),
calendar AS (
  SELECT u.user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
           AS day
  FROM (SELECT DISTINCT user_id FROM daily) u, span)
SELECT c.user_id, c.day,
       coalesce(last_value(d.n_events IGNORE NULLS) OVER (
         PARTITION BY c.user_id ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)::BIGINT
         AS n_events_filled,
       d.n_events IS NULL AS was_gap
FROM calendar c
LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
ORDER BY c.user_id, c.day""",

    "agg_outlier_days" -> s"""WITH daily AS (
  SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS date_key,
         count(*)::BIGINT AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1),
stats AS (
  SELECT count(*)::BIGINT AS n_days,
         sum(n_events)::BIGINT AS s1,
         sum(n_events * n_events)::BIGINT AS s2
  FROM daily),
z AS (
  SELECT date_key, n_events,
         CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_events,
         sqrt((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))
              / CAST(n_days AS DOUBLE)) AS std_events
  FROM daily, stats)
SELECT date_key, n_events, mean_events, std_events,
       CASE WHEN std_events > 0
            THEN (CAST(n_events AS DOUBLE) - mean_events) / std_events
            ELSE 0.0 END AS z,
       abs(CASE WHEN std_events > 0
            THEN (CAST(n_events AS DOUBLE) - mean_events) / std_events
            ELSE 0.0 END) > $OutlierZ AS is_outlier
FROM z
ORDER BY date_key""",

    "agg_rolling_active_users" -> """WITH du AS (
  SELECT DISTINCT ts::DATE AS day, user_id FROM events),
observed AS (SELECT DISTINCT day FROM du),
daily AS (
  SELECT day, count(DISTINCT user_id)::BIGINT AS n_active_1d
  FROM du GROUP BY day),
contrib AS (
  SELECT (du.day + g::INT * INTERVAL 1 DAY)::DATE AS day, du.user_id
  FROM du, LATERAL (SELECT unnest(range(0, 7)) AS g)),
rolling AS (
  SELECT c.day, count(DISTINCT c.user_id)::BIGINT AS n_active_7d
  FROM contrib c JOIN observed o ON c.day = o.day
  GROUP BY c.day)
SELECT d.day, d.n_active_1d, r.n_active_7d
FROM daily d JOIN rolling r ON d.day = r.day
ORDER BY d.day""",

    "agg_approx_stats" -> """SELECT event_type,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users_exact,
       true AS approx_distinct_ok,
       true AS p50_ok
FROM events GROUP BY event_type ORDER BY event_type""",

    "win_moving_avg" -> """SELECT user_id, ts, event_id,
       (sum(value::DECIMAL(12,2)) OVER w)::DOUBLE / (count(*) OVER w) AS moving_avg,
       (sum(value::DECIMAL(12,2)) OVER w)::DOUBLE AS moving_sum,
       count(*) OVER w AS frame_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, event_id""",

    "win_rank_family" -> """SELECT year(o_orderdate)::INT AS o_year,
       o_orderkey, o_totalprice,
       rank() OVER w AS price_rank,
       dense_rank() OVER w AS price_dense_rank,
       ntile(10) OVER w AS decile,
       lead(o_orderkey, 1) OVER w AS next_orderkey
FROM orders
WHERE o_totalprice > 400000
WINDOW w AS (PARTITION BY year(o_orderdate)
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_year, price_rank""",

    "win_global_rank" -> """SELECT o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS global_rank
FROM orders
ORDER BY global_rank""",

    "agg_rollup" -> """SELECT year(o_orderdate)::INT AS y,
       quarter(o_orderdate)::INT AS q,
       count(*)::BIGINT AS n,
       (CASE WHEN GROUPING(year(o_orderdate)) = 1 THEN 1 ELSE 0 END) AS g_y,
       (CASE WHEN GROUPING(quarter(o_orderdate)) = 1 THEN 1 ELSE 0 END) AS g_q
FROM orders
GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
ORDER BY g_y, g_q, y, q""",

    "agg_funnel" -> """WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events WHERE ts IS NOT NULL
  GROUP BY user_id)
SELECT count(*)::BIGINT AS n_users,
       sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_clicked,
       sum(CASE WHEN t_click IS NOT NULL AND t_signup IS NOT NULL
                 AND t_click <= t_signup THEN 1 ELSE 0 END)::BIGINT
         AS n_signed_up,
       sum(CASE WHEN t_click IS NOT NULL AND t_signup IS NOT NULL
                 AND t_click <= t_signup AND t_purchase IS NOT NULL
                 AND t_signup <= t_purchase THEN 1 ELSE 0 END)::BIGINT
         AS n_purchased
FROM per_user""",

    "agg_retention_cohorts" -> """WITH ev AS (
  SELECT user_id, ts::DATE AS day FROM events WHERE ts IS NOT NULL),
first_touch AS (
  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT CAST(strftime(cohort_day, '%Y%m%d') AS INT) AS cohort_key,
       (day - cohort_day)::INT AS day_offset,
       count(DISTINCT ev.user_id)::BIGINT AS n_active
FROM ev JOIN first_touch USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_key, day_offset""",

    "agg_grouping_sets" -> """SELECT year(o_orderdate)::INT AS y,
       quarter(o_orderdate)::INT AS q,
       o_orderstatus AS status,
       count(*)::BIGINT AS n,
       (CASE WHEN GROUPING(year(o_orderdate)) = 1 THEN 1 ELSE 0 END) AS g_y,
       (CASE WHEN GROUPING(quarter(o_orderdate)) = 1 THEN 1 ELSE 0 END) AS g_q,
       (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 1 ELSE 0 END) AS g_s
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), quarter(o_orderdate)),
                        (o_orderstatus), ())
ORDER BY g_y, g_q, g_s, y, q, status""",

    "agg_cube" -> """SELECT year(o_orderdate)::INT AS y,
       o_orderstatus AS status,
       count(*)::BIGINT AS n,
       (CASE WHEN GROUPING(year(o_orderdate)) = 1 THEN 1 ELSE 0 END) AS g_y,
       (CASE WHEN GROUPING(o_orderstatus) = 1 THEN 1 ELSE 0 END) AS g_s
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
ORDER BY g_y, g_s, y, status""",

    "join_asof_attribution" -> """WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       c.click_id AS prior_click_id, c.ts AS prior_click_ts
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id""",

    "agg_heavy_hitters" -> """SELECT user_id, count(*)::BIGINT AS n_exact,
       true AS cms_ok
FROM events GROUP BY user_id
ORDER BY n_exact DESC, user_id LIMIT 10""",

    "join_range_banded" -> """SELECT e.event_id, e.value, t.tier
FROM events e
JOIN (VALUES ('bronze', 0.0, 17.0), ('silver', 17.0, 38.0),
             ('gold', 38.0, 61.0), ('platinum', 61.0, 86.0),
             ('diamond', 86.0, 100.01)) AS t(tier, lo, hi)
  ON e.value >= t.lo AND e.value < t.hi
ORDER BY e.event_id""",

    "setops_intersect_except" -> """SELECT 'intersect' AS set_op, user_id
FROM (SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT 'except' AS set_op, user_id
FROM (SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
ORDER BY set_op, user_id""",

    "agg_pivot_event_types" -> """SELECT user_id % 10 AS user_bucket,
       count(*) FILTER (event_type = 'click')::BIGINT AS click,
       count(*) FILTER (event_type = 'view')::BIGINT AS view,
       count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
       count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
       count(*) FILTER (event_type = 'error')::BIGINT AS error
FROM events
GROUP BY 1 ORDER BY 1""")
}
