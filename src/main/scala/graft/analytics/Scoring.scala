package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Score-readout operators — the two tables every targeting / growth
  * dashboard is built from: the decile gains ("lift") curve that validates
  * a ranking score, and multi-touch attribution that divides conversion
  * credit across preceding touches. Both extend the reference's report
  * family (`/root/reference/src/run_analytics.py` prints ranked utilization
  * reports; these add the model-validation and credit-assignment shapes a
  * pipeline needs once scores exist).
  *
  * Determinism discipline: decile membership comes from `ntile` over a
  * total order (exact DECIMAL spend, custkey tiebreak); every rate is a
  * single division of exact integers; attribution credit is integer
  * millionths via `1000000 div n_touches` — no float ever crosses a
  * shuffle, so both operators hash-compare against DuckDB.
  */
object Scoring extends graft.QueryModule {

  /** Deciles in the gains table. */
  val Deciles = 10

  /** Attribution lookback window in days. */
  val LookbackDays = 7

  /** Credit scale: one conversion = 1,000,000 credit units, integer-split
    * across its touches by floor division (the sub-unit remainder per
    * conversion is the documented, bounded cost of keeping credit integer).
    */
  val CreditScale = 1000000L

  /** Decile gains/lift table for "customer spend" as a ranking score
    * against "placed an urgent order" as the label: per decile, size,
    * positives, hit rate, and cumulative capture of all positives. The
    * shape every score validation reads — a good score front-loads capture
    * into deciles 1-2.
    *
    * Scale: one aggregate per customer, one global ntile window (over
    * |customers| rows — for corpus-scale, swap for the sampled-boundary
    * bucketing of `wh_zorder_stats`; documented, same output contract),
    * then a 10-row rollup.
    */
  def liftCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(
        sum($"o_totalprice".cast("decimal(18,2)")).as("spend"),
        max(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L))
          .as("pos"))
    val tiled = perCust.withColumn("decile",
      ntile(Deciles).over(Window.orderBy($"spend".desc, $"o_custkey")))
    val byDecile = tiled.groupBy($"decile")
      .agg(count(lit(1)).as("n"), sum($"pos").as("n_pos"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .select($"decile", $"n", $"n_pos",
        ($"n_pos" * lit(1.0) / $"n").as("hit_rate"),
        sum($"n_pos").over(w).as("cum_pos"),
        sum($"n_pos").over(Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("tot_pos"))
      .select($"decile", $"n", $"n_pos", $"hit_rate",
        ($"cum_pos" * lit(1.0) / $"tot_pos").as("cum_capture"))
      .orderBy($"decile")
  }

  /** Linear multi-touch attribution over the events stream: each purchase
    * splits [[CreditScale]] credit units equally (floor division) across
    * the user's touch events (click/view/signup) in the preceding
    * [[LookbackDays]]; per touch type, total credit and the touch/conversion
    * counts, and each type's share of all assigned credit.
    *
    * Scale: the touch-to-conversion pairing is an equi-join on user_id with
    * a range predicate — the banded shape of `join_range_banded` applies
    * verbatim if a single user's history is ever unbounded; here user
    * histories are bounded and the join stays a hash join on user_id.
    */
  def multitouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"user_id".isNotNull)
    val conv = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("conv_id"), $"ts".as("conv_ts"))
    val touch = ev.filter($"event_type".isin("click", "view", "signup"))
      .select($"user_id", $"event_type".as("touch_type"),
        $"event_id".as("touch_id"), $"ts".as("touch_ts"))
    val paired = conv.join(touch, Seq("user_id"))
      .filter($"touch_ts" <= $"conv_ts"
        && $"touch_ts" >= $"conv_ts" - expr(s"interval $LookbackDays days"))
    val credited = paired
      .withColumn("n_touches",
        count(lit(1)).over(Window.partitionBy($"conv_id")))
      .withColumn("credit", expr(s"$CreditScale div n_touches"))
    credited.groupBy($"touch_type")
      .agg(
        count(lit(1)).as("n_touch_events"),
        countDistinct($"conv_id").as("n_conversions_touched"),
        sum($"credit").as("credit_millionths"))
      .withColumn("credit_share",
        $"credit_millionths" * lit(1.0)
          / sum($"credit_millionths").over(Window.partitionBy()))
      .orderBy($"touch_type")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_lift_curve" -> (liftCurve _),
    "agg_multitouch_attribution" -> (multitouch _))

  val oracle: Map[String, String] = Map(
    "agg_lift_curve" -> s"""WITH per_cust AS (
  SELECT o_custkey,
         sum(o_totalprice::DECIMAL(18,2)) AS spend,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
           AS pos
  FROM orders GROUP BY o_custkey),
tiled AS (
  SELECT *, ntile($Deciles) OVER (ORDER BY spend DESC, o_custkey) AS decile
  FROM per_cust),
by_decile AS (
  SELECT decile::INT AS decile, count(*)::BIGINT AS n,
         sum(pos)::BIGINT AS n_pos
  FROM tiled GROUP BY 1)
SELECT decile, n, n_pos,
       n_pos * 1.0 / n AS hit_rate,
       sum(n_pos) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * 1.0 / sum(n_pos) OVER () AS cum_capture
FROM by_decile ORDER BY decile""",

    "agg_multitouch_attribution" -> s"""WITH ev AS (
  SELECT * FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM ev WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id, event_type AS touch_type, event_id AS touch_id,
         ts AS touch_ts
  FROM ev WHERE event_type IN ('click', 'view', 'signup')),
paired AS (
  SELECT conv.conv_id, touch.touch_type
  FROM conv JOIN touch USING (user_id)
  WHERE touch_ts <= conv_ts
    AND touch_ts >= conv_ts - INTERVAL $LookbackDays DAY),
credited AS (
  SELECT touch_type, conv_id,
         $CreditScale // count(*) OVER (PARTITION BY conv_id) AS credit
  FROM paired)
SELECT touch_type,
       count(*)::BIGINT AS n_touch_events,
       count(DISTINCT conv_id)::BIGINT AS n_conversions_touched,
       sum(credit)::BIGINT AS credit_millionths,
       sum(credit) * 1.0 / sum(sum(credit)) OVER () AS credit_share
FROM credited GROUP BY touch_type ORDER BY touch_type""")
}
