package graft.analytics

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` stream: the Markov transition
  * matrix (which event follows which) and a HyperLogLog distinct sketch —
  * the two ops a product-analytics warehouse reaches for after funnels and
  * retention (both already in [[Aggregates]]-land). The reference has no
  * sequence ops (SURVEY §2.5 "not present"); these are extensions with full
  * DuckDB oracle twins.
  *
  * Scale shape: transitions are one window pass partitioned by `user_id`
  * (state per user fits trivially; the shuffle key is the natural cluster
  * key) followed by a vocabulary-sized aggregate. The HLL sketch is the
  * textbook 100 TB distinct-count: the per-partition state is 64 registers
  * per group regardless of input rows, and register-max is a commutative
  * partial aggregate, so the shuffle carries ≤ (groups × 64) rows no matter
  * the scale factor.
  */
object EventSeq extends graft.QueryModule {

  /** Per-user event-type transition matrix. `lag` over (ts, event_id) gives
    * the previous event per user; counts aggregate to (from, to) cells and
    * probabilities are the single-division ratio against the from-state
    * total (exact on both engines). Dirty rows (null key/ts/type — the
    * quarantine categories of [[graft.ingest.Ingest]]) are excluded so the
    * sequence order is total.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val seq = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" > 0 &&
        $"ts".isNotNull && $"event_id".isNotNull && $"event_type".isNotNull)
      .select($"user_id", $"event_type".as("to_type"),
        lag($"event_type", 1).over(w).as("from_type"))
      .filter($"from_type".isNotNull)
    val cells = seq.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy($"from_type").agg(sum($"n").as("row_total"))
    cells.join(totals, "from_type")
      .select($"from_type", $"to_type", $"n",
        ($"n" * lit(1.0) / $"row_total").as("p"))
      .orderBy($"from_type", $"to_type")
  }

  /** Path-report size for [[topPaths]]. One value, both engines. */
  val TopPathsK = 20

  /** Top 3-step event paths — the journey ("Sankey") report one level above
    * [[transitions]]' bigram matrix: the Markov cells say view→click is
    * common, the trigram paths say whether view→click→purchase or
    * view→click→error dominates, which is the question funnels are built
    * from. Two lags over the same per-user window (one sort serves both),
    * a path-string aggregate, and a deterministic top-k
    * (count desc, path asc — `TakeOrderedAndProject`, no full sort).
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val seq = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" > 0 &&
        $"ts".isNotNull && $"event_id".isNotNull && $"event_type".isNotNull)
      .select($"user_id", $"event_type".as("e3"),
        lag($"event_type", 1).over(w).as("e2"),
        lag($"event_type", 2).over(w).as("e1"))
      .filter($"e1".isNotNull)
    seq.groupBy(concat_ws(" > ", $"e1", $"e2", $"e3").as("path"))
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"n".desc, $"path")
      .limit(TopPathsK)
  }

  /** HLL registers: m = 2^p with p = [[HllP]]. h32 gives 32 hash bits; the
    * top p pick the register, the low 32−p feed the rank. Rank =
    * leading-zero count + 1 over the (32−p)-bit word, computed as
    * `RankBase − bitlength(w)` via base-2 string length — `conv(w,10,2)`
    * (Spark) and `bin(w)` (DuckDB) both render without leading zeros, so
    * the two engines agree bit-for-bit with no `log2` in sight (JVM log is
    * 1-ulp, not correctly rounded). Every derived constant below flows
    * from [[HllP]] and is interpolated into BOTH engines' plans, so a
    * register-count change cannot desynchronize the twins.
    */
  val HllP = 6
  val HllRegisters: Int = 1 << HllP // 64
  private val RegDivisor = 1L << (32 - HllP) // 2^26: h DIV -> register, h MOD -> rank word
  private val RankBase = 32 - HllP + 1 // 27: rank of the all-zero word
  private val HllAlpha = 0.709 // α_64 from the HLL paper (α is a per-m lookup)
  private val HllM2 = (1L << (2 * HllP)).toDouble // m² = 4096.0

  /** HLL distinct users per event type, next to the exact count and the
    * relative error. Float-parity notes: every `1.0 / 2^m` register term is
    * an exact power of two, so the register sum is exact in double no
    * matter the shuffle merge order (a 33-bit total against a 53-bit
    * mantissa) — the one float `sum()` shape that IS hash-safe across
    * engines. The estimate is the raw HLL formula `α·m²/Z` without the
    * small-range linear-counting correction: `m·ln(m/V)` needs `ln`, which
    * is 1-ulp on the JVM and so never hash-comparable. The output carries
    * `n_regs`, from which V = m − n_regs, so a consumer applies the
    * correction as a trivial local transform when the raw estimate is
    * < 2.5m (EventSeqSpec does exactly that); the oracle twin checks the
    * raw formula bit-for-bit.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" > 0 && $"event_type".isNotNull)
      .select($"event_type", $"user_id").distinct()
    val hashed = pairs
      .withColumn("h", Md5Hash.h32(concat(lit("hll:"), $"user_id".cast("string"))))
      .withColumn("idx", expr(s"h DIV $RegDivisor"))
      .withColumn("w", $"h" % RegDivisor)
      .withColumn("rho",
        when($"w" === 0, lit(RankBase))
          .otherwise(lit(RankBase) - length(conv($"w".cast("string"), 10, 2))))
    val regs = hashed.groupBy($"event_type", $"idx").agg(max($"rho").as("m"))
    val sketch = regs.groupBy($"event_type").agg(
      count(lit(1)).as("n_regs"),
      // 1.0D: the SQL literal 1.0 parses as DECIMAL in Spark (but DOUBLE in
      // DuckDB) — the division must be the identical IEEE double op
      sum(expr("1.0D / shiftleft(CAST(1 AS BIGINT), m)")).as("z_present"))
    val exact = pairs.groupBy($"event_type")
      .agg(count(lit(1)).as("n_exact")) // pairs are already distinct
    sketch.join(exact, "event_type")
      .withColumn("z", $"z_present" + (lit(HllRegisters) - $"n_regs") * lit(1.0))
      .select($"event_type", $"n_exact", $"n_regs",
        (lit(HllAlpha) * lit(HllM2) / $"z").as("hll_estimate"),
        ((lit(HllAlpha) * lit(HllM2) / $"z" - $"n_exact") / $"n_exact").as("rel_err"))
      .orderBy($"event_type")
  }

  /** Trailing 7-day distinct actives from MERGED daily HLL sketches — the
    * sketch-algebra form of `agg_rolling_active_users`, and the reason a
    * 100 TB pipeline keeps sketches at all: the corpus is scanned ONCE to
    * build |days|×m daily registers, and every sliding window after that is
    * a register max-merge over ≤ 7·m rows per day — re-windowing (7→28
    * days, month-to-date, arbitrary ranges) costs sketch arithmetic, never
    * a corpus rescan, where the exact rolling form re-expands every
    * (day, user) pair per window. The day×register band join is
    * days-bounded (a broadcast of the day spine, the MIPS precedent); the
    * exact twin rides along for the rel_err column, and the estimate is
    * the same correction-free raw formula as [[hllDistinct]] (exact
    * power-of-two register sums — the one float-sum shape that is
    * hash-safe).
    */
  def hllSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" > 0 && $"ts".isNotNull)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val hashed = ev
      .withColumn("h", Md5Hash.h32(concat(lit("hll:"), $"user_id".cast("string"))))
      .withColumn("idx", expr(s"h DIV $RegDivisor"))
      .withColumn("w", $"h" % RegDivisor)
      .withColumn("rho",
        when($"w" === 0, lit(RankBase))
          .otherwise(lit(RankBase) - length(conv($"w".cast("string"), 10, 2))))
    val daily = hashed.groupBy($"day", $"idx").agg(max($"rho").as("m"))
    val days = ev.select($"day").distinct()
    val merged = broadcast(days.as("d"))
      .join(daily.as("r"),
        col("r.day") <= col("d.day")
          && col("r.day") >= date_sub(col("d.day"), 6))
      .groupBy(col("d.day").as("day"), col("r.idx").as("idx"))
      .agg(max($"m").as("m"))
    val sketch = merged.groupBy($"day").agg(
      count(lit(1)).as("n_regs"),
      sum(expr("1.0D / shiftleft(CAST(1 AS BIGINT), m)")).as("z_present"))
    val exact = broadcast(days.as("d"))
      .join(ev.as("e"),
        col("e.day") <= col("d.day")
          && col("e.day") >= date_sub(col("d.day"), 6))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct(col("e.user_id")).as("n_exact"))
    sketch.join(exact, "day")
      .withColumn("z", $"z_present" + (lit(HllRegisters) - $"n_regs") * lit(1.0))
      .select(
        date_format($"day", "yyyyMMdd").cast("int").as("date_key"),
        $"n_exact", $"n_regs",
        (lit(HllAlpha) * lit(HllM2) / $"z").as("hll_estimate"),
        ((lit(HllAlpha) * lit(HllM2) / $"z" - $"n_exact") / $"n_exact")
          .as("rel_err"))
      .orderBy($"date_key")
  }

  /** Deterministic A/B-test readout — the experiment summary an analytics
    * engine produces daily: users split by salted hash (the same
    * assignment [[graft.sources.Sources]]' assignment join uses — stable
    * across retries and engines, no RNG), conversion = "has a purchase
    * event", and the two-proportion z-score computed in ONE fixed-order
    * expression per engine. Every input to the float math is an exact
    * integer count; the z formula is a handful of single IEEE ops plus
    * `sqrt` (correctly rounded by spec), so even the statistic
    * hash-compares. One user-grain aggregate, then 2-row arithmetic.
    */
  def abReadout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // assignment at EXPOSURE grain (event ids): at test scale every user
    // fires every event type, so a user-grain "has purchased" outcome
    // degenerates to 100% in both arms (zero variance, undefined z) —
    // event-grain purchase share is non-degenerate at any scale factor
    val exposed = Tables.events(spark, dir)
      .filter($"event_id".isNotNull)
      .select(
        pmod(graft.functions.Md5Hash.h32(
          concat(lit("ab:"), $"event_id".cast("string"))), lit(2))
          .as("variant"),
        when($"event_type" === "purchase", 1).otherwise(0).as("converted"))
    val arms = exposed.groupBy($"variant")
      .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_conv"))
    val wide = arms.agg(
      max(when($"variant" === 0, $"n_users")).as("n_a"),
      max(when($"variant" === 0, $"n_conv")).as("conv_a"),
      max(when($"variant" === 1, $"n_users")).as("n_b"),
      max(when($"variant" === 1, $"n_conv")).as("conv_b"))
    // D-suffixed literals: bare 1.0 parses as DECIMAL in Spark SQL (but
    // DOUBLE in DuckDB) — the z arithmetic must be the identical IEEE ops
    wide.selectExpr(
      "n_a", "conv_a", "n_b", "conv_b",
      "floor((conv_a * 100.0D / n_a) * 100 + 0.5D) / 100.0D AS cvr_a_pct",
      "floor((conv_b * 100.0D / n_b) * 100 + 0.5D) / 100.0D AS cvr_b_pct",
      """(conv_b * 1.0D / n_b - conv_a * 1.0D / n_a)
         / sqrt((conv_a * 1.0D / n_a) * (1.0D - conv_a * 1.0D / n_a) / n_a
              + (conv_b * 1.0D / n_b) * (1.0D - conv_b * 1.0D / n_b) / n_b)
         AS z_score""")
  }

  /** Funnel latency — time from first click to the first purchase AFTER it,
    * summarized as exact order statistics (min / median / p90 / max in
    * epoch MICROseconds — whole-second truncation differs cross-engine:
    * DuckDB's double epoch()::BIGINT rounds where Spark truncates). Ranks are integer-defined ((n+1) div 2 and
    * (9n+9) div 10, mirrored verbatim in the twin) and selected by
    * row_number — the repo's no-interpolation quantile rule — so the
    * report is integer-exact end to end. The rank window runs over the
    * USER-grain delay table; at 100 TB the same selection runs as the
    * documented grid-bucket histogram (text_quality_gate's shape) instead
    * of a global sort.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull)
    val firstClick = ev.filter($"event_type" === "click")
      .groupBy($"user_id").agg(min($"ts").as("cts"))
    val delays = ev.filter($"event_type" === "purchase")
      .join(firstClick, "user_id")
      .filter($"ts" >= $"cts")
      .groupBy($"user_id").agg(min($"ts").as("pts"), min($"cts").as("cts0"))
      .select($"user_id",
        (unix_micros($"pts") - unix_micros($"cts0")).as("delay_us"))
    val w = Window.orderBy($"delay_us", $"user_id")
    val ranked = delays
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(delays.agg(count(lit(1)).as("n"))))
    ranked.agg(
      max($"n").as("n_converted"),
      min($"delay_us").as("min_us"),
      max(when($"rn" === expr("(n + 1) div 2"), $"delay_us")).as("median_us"),
      max(when($"rn" === expr("(9 * n + 9) div 10"), $"delay_us")).as("p90_us"),
      max($"delay_us").as("max_us"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_funnel_latency" -> (funnelLatency _),
    "agg_ab_readout" -> (abReadout _),
    "agg_event_transitions" -> (transitions _),
    "agg_top_paths" -> (topPaths _),
    "agg_hll_distinct" -> (hllDistinct _),
    "agg_hll_sliding" -> (hllSliding _),
    "agg_window_funnel" -> (windowFunnel _))

  /** Funnel stages (in order) and the completion window, anchored at the
    * stage-1 event (ClickHouse `windowFunnel` semantics). One definition
    * interpolated into both engines.
    */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")
  val FunnelWindowMicros: Long = 86400L * 1000000L // 24 h

  /** Time-bounded ordered funnel — ClickHouse's `windowFunnel` as relational
    * algebra: a user reaches level L if SOME chain t1 < t2 < … < tL exists
    * with every step inside `[t1, t1 + window]`. This is EXISTS semantics
    * over all stage-1 anchors, not first-touch chaining — a later `view`
    * can open the window that captures the `click`/`purchase` an earlier
    * one missed ([[graft.ingest.Ingest]]-style first-touch funnels
    * under-count exactly those journeys; `agg_funnel` beside this query is
    * that unbounded first-touch contract).
    *
    * The exists-search stays tractable through one monotonicity fact: for a
    * fixed anchor t1, keeping only the MINIMUM qualifying t2 never loses a
    * level-3 witness (any t3 that beats a larger t2 beats the minimum too).
    * So each level is one per-user equi-join + a (u, t1) min-aggregate —
    * per-user stage-count fan-out, never cross-user. At corpus scale the
    * per-user join keys on the natural cluster key; a pathological
    * single-user firehose adds a `t div window` band to the join key (the
    * [[graft.ingest.EtlExtras]] banded-interval-join trick) to cap fan-out
    * at adjacent bands.
    */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Seq(st1, st2, st3) = FunnelStages
    val e = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"event_type".isNotNull)
      .select($"user_id".as("u"), $"event_type", unix_micros($"ts").as("t"))
    def stage(s: String, as: String) =
      e.filter($"event_type" === s).select($"u", $"t".as(as))
    val l2 = stage(st1, "t1").join(stage(st2, "t2"), "u")
      .filter($"t2" > $"t1" && $"t2" <= $"t1" + lit(FunnelWindowMicros))
      .groupBy($"u", $"t1").agg(min($"t2").as("t2"))
    val l3u = l2.join(stage(st3, "t3"), "u")
      .filter($"t3" > $"t2" && $"t3" <= $"t1" + lit(FunnelWindowMicros))
      .select($"u").distinct()
    val l2u = l2.select($"u").distinct()
    stage(st1, "t1").select($"u").distinct()
      .join(l2u.withColumn("h2", lit(1)), Seq("u"), "left")
      .join(l3u.withColumn("h3", lit(1)), Seq("u"), "left")
      .select($"u".as("user_id"),
        (lit(1) + coalesce($"h2", lit(0)) + coalesce($"h3", lit(0)))
          .as("funnel_level"))
      .orderBy($"user_id")
  }

  private val hllH32 = Md5Hash.h32Sql("'hll:' || CAST(user_id AS VARCHAR)")

  val oracle: Map[String, String] = Map(
    "agg_funnel_latency" -> """WITH fc AS (
  SELECT user_id, min(ts) AS cts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type = 'click'
  GROUP BY user_id),
delays AS (
  SELECT e.user_id,
         (epoch_us(min(e.ts)) - epoch_us(min(fc.cts))) AS delay_us
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL AND e.ts >= fc.cts
  GROUP BY e.user_id),
ranked AS (
  SELECT delay_us,
         row_number() OVER (ORDER BY delay_us, user_id) AS rn,
         (SELECT count(*) FROM delays) AS n
  FROM delays)
SELECT max(n)::BIGINT AS n_converted,
       min(delay_us)::BIGINT AS min_us,
       max(CASE WHEN rn = (n + 1) // 2 THEN delay_us END)::BIGINT AS median_us,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN delay_us END)::BIGINT
         AS p90_us,
       max(delay_us)::BIGINT AS max_us
FROM ranked""",

    "agg_ab_readout" -> s"""WITH exposed AS (
  SELECT (${graft.functions.Md5Hash.h32Sql("'ab:' || event_id::VARCHAR")}) % 2
           AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
  FROM events WHERE event_id IS NOT NULL),
arms AS (
  SELECT variant, count(*)::BIGINT AS n_users, sum(converted)::BIGINT AS n_conv
  FROM exposed GROUP BY variant),
wide AS (
  SELECT max(CASE WHEN variant = 0 THEN n_users END)::BIGINT AS n_a,
         max(CASE WHEN variant = 0 THEN n_conv END)::BIGINT AS conv_a,
         max(CASE WHEN variant = 1 THEN n_users END)::BIGINT AS n_b,
         max(CASE WHEN variant = 1 THEN n_conv END)::BIGINT AS conv_b
  FROM arms)
SELECT n_a, conv_a, n_b, conv_b,
       floor((conv_a * 100.0 / n_a) * 100 + 0.5) / 100.0 AS cvr_a_pct,
       floor((conv_b * 100.0 / n_b) * 100 + 0.5) / 100.0 AS cvr_b_pct,
       (conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
         / sqrt((conv_a * 1.0 / n_a) * (1.0 - conv_a * 1.0 / n_a) / n_a
              + (conv_b * 1.0 / n_b) * (1.0 - conv_b * 1.0 / n_b) / n_b)
         AS z_score
FROM wide""",

    "agg_window_funnel" -> {
      val Seq(st1, st2, st3) = FunnelStages
      s"""WITH e AS (
  SELECT user_id AS u, event_type, (epoch_ns(ts) // 1000)::BIGINT AS t
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
s1 AS (SELECT u, t AS t1 FROM e WHERE event_type = '$st1'),
s2 AS (SELECT u, t AS t2 FROM e WHERE event_type = '$st2'),
s3 AS (SELECT u, t AS t3 FROM e WHERE event_type = '$st3'),
l2 AS (
  SELECT s1.u, t1, min(t2) AS t2
  FROM s1 JOIN s2 ON s1.u = s2.u
    AND t2 > t1 AND t2 <= t1 + $FunnelWindowMicros
  GROUP BY s1.u, t1),
l3u AS (
  SELECT DISTINCT l2.u
  FROM l2 JOIN s3 ON s3.u = l2.u
    AND t3 > t2 AND t3 <= t1 + $FunnelWindowMicros),
l2u AS (SELECT DISTINCT u FROM l2),
s1u AS (SELECT DISTINCT u FROM s1)
SELECT s1u.u AS user_id,
       (1 + CASE WHEN l2u.u IS NULL THEN 0 ELSE 1 END
          + CASE WHEN l3u.u IS NULL THEN 0 ELSE 1 END)::INT AS funnel_level
FROM s1u
LEFT JOIN l2u ON s1u.u = l2u.u
LEFT JOIN l3u ON s1u.u = l3u.u
ORDER BY user_id"""
    },
    "agg_top_paths" -> s"""WITH e AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND user_id > 0
    AND ts IS NOT NULL AND event_id IS NOT NULL AND event_type IS NOT NULL),
seq AS (
  SELECT user_id, event_type AS e3,
         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS e2,
         lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS e1
  FROM e)
SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
       count(*)::BIGINT AS n,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM seq WHERE e1 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT $TopPathsK""",

    "agg_event_transitions" -> """WITH e AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND user_id > 0
    AND ts IS NOT NULL AND event_id IS NOT NULL AND event_type IS NOT NULL),
seq AS (
  SELECT user_id, event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type
  FROM e),
cells AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
totals AS (SELECT from_type, sum(n)::BIGINT AS row_total FROM cells GROUP BY 1)
SELECT c.from_type, c.to_type, c.n, c.n * 1.0 / t.row_total AS p
FROM cells c JOIN totals t USING (from_type)
ORDER BY from_type, to_type""",

    "agg_hll_distinct" -> s"""WITH pairs AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND user_id > 0 AND event_type IS NOT NULL),
h AS (
  SELECT event_type, $hllH32 AS h
  FROM pairs),
r AS (
  SELECT event_type, h // $RegDivisor AS idx,
         CASE WHEN h % $RegDivisor = 0 THEN $RankBase
              ELSE $RankBase - length(bin(h % $RegDivisor)) END AS rho
  FROM h),
m AS (SELECT event_type, idx, max(rho) AS m FROM r GROUP BY 1, 2),
z AS (
  SELECT event_type, count(*)::BIGINT AS n_regs,
         sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << m)) AS z_present
  FROM m GROUP BY 1),
x AS (SELECT event_type, count(*)::BIGINT AS n_exact FROM pairs GROUP BY 1)
SELECT z.event_type, x.n_exact, z.n_regs,
       $HllAlpha * $HllM2 / (z_present + ($HllRegisters - n_regs) * 1.0)
         AS hll_estimate,
       ($HllAlpha * $HllM2 / (z_present + ($HllRegisters - n_regs) * 1.0) - n_exact)
         / n_exact AS rel_err
FROM z JOIN x USING (event_type)
ORDER BY event_type""",

    "agg_hll_sliding" -> s"""WITH ev AS (
  SELECT DISTINCT ts::DATE AS day, user_id FROM events
  WHERE user_id IS NOT NULL AND user_id > 0 AND ts IS NOT NULL),
h AS (
  SELECT day, $hllH32 AS h FROM ev),
r AS (
  SELECT day, h // $RegDivisor AS idx,
         CASE WHEN h % $RegDivisor = 0 THEN $RankBase
              ELSE $RankBase - length(bin(h % $RegDivisor)) END AS rho
  FROM h),
daily AS (SELECT day, idx, max(rho) AS m FROM r GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM ev),
merged AS (
  SELECT d.day, r.idx, max(r.m) AS m
  FROM days d JOIN daily r
    ON r.day <= d.day AND r.day >= d.day - 6
  GROUP BY 1, 2),
sk AS (
  SELECT day, count(*)::BIGINT AS n_regs,
         sum(CAST(1.0 AS DOUBLE) / (1::BIGINT << m)) AS z_present
  FROM merged GROUP BY 1),
ex AS (
  SELECT d.day, count(DISTINCT e.user_id)::BIGINT AS n_exact
  FROM days d JOIN ev e
    ON e.day <= d.day AND e.day >= d.day - 6
  GROUP BY 1)
SELECT CAST(strftime(sk.day, '%Y%m%d') AS INT) AS date_key,
       ex.n_exact, sk.n_regs,
       $HllAlpha * $HllM2 / (z_present + ($HllRegisters - n_regs) * 1.0)
         AS hll_estimate,
       ($HllAlpha * $HllM2 / (z_present + ($HllRegisters - n_regs) * 1.0)
          - n_exact) / n_exact AS rel_err
FROM sk JOIN ex USING (day)
ORDER BY date_key""")
}
