package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The value-position window family — FIRST_VALUE / NTH_VALUE /
  * PERCENT_RANK / CUME_DIST — completing the analytic-function surface
  * beyond [[WindowExtras.rankFamily]]'s integer ranks: these read *values
  * from other rows* of the frame (leader's key, runner-up's key) and place
  * each row on the [0,1] distribution scale. PERCENT_RANK and CUME_DIST
  * are exact rationals ((rank−1)/(n−1), cum_n/n) — single divisions of
  * window-computed integers, hash-stable by construction.
  *
  * Frame discipline: FIRST_VALUE/NTH_VALUE get an EXPLICIT unbounded frame
  * in BOTH engines — the default ordered-window frame stops at CURRENT ROW,
  * which would null NTH_VALUE(…, 2) for every partition leader and silently
  * diverge if one engine's default ever differed.
  *
  * Scale: the window partitions by year (bounded partitions of a filtered
  * slice); no global sort. The high-value filter is pushed to the scan.
  */
object ValuePositions extends graft.QueryModule {

  /** Price floor bounding the reported slice. One value, both engines. */
  val PriceFloor = 450000

  def valuePositions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val order = Window.partitionBy($"o_year")
      .orderBy($"price".desc, $"o_orderkey")
    val full = order.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter($"o_totalprice" > PriceFloor)
      // Output boundary convention: EMIT double, not decimal — 2-decimal
      // money is exactly representable in float64, so ordering and values
      // are unchanged while the output schema stays BIGINT/DOUBLE-only
      // (see VerifySchemaSpec).
      .select(year($"o_orderdate").as("o_year"), $"o_orderkey",
        $"o_totalprice".cast("decimal(12,2)").cast("double").as("price"))
      .select($"o_year", $"o_orderkey", $"price",
        first($"o_orderkey").over(full).as("leader_key"),
        nth_value($"o_orderkey", 2).over(full).as("runner_up_key"),
        round(percent_rank().over(order), 6).as("pct_rank"),
        round(cume_dist().over(order), 6).as("cume"))
      .orderBy($"o_year", $"price".desc, $"o_orderkey")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_value_positions" -> (valuePositions _))

  val oracle: Map[String, String] = Map(
    "win_value_positions" -> s"""WITH slice AS (
  SELECT year(o_orderdate)::INT AS o_year, o_orderkey,
         o_totalprice::DECIMAL(12,2)::DOUBLE AS price
  FROM orders WHERE o_totalprice > $PriceFloor)
SELECT o_year, o_orderkey, price,
       first_value(o_orderkey) OVER (PARTITION BY o_year
         ORDER BY price DESC, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS leader_key,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_year
         ORDER BY price DESC, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS runner_up_key,
       round(percent_rank() OVER (PARTITION BY o_year
         ORDER BY price DESC, o_orderkey), 6) AS pct_rank,
       round(cume_dist() OVER (PARTITION BY o_year
         ORDER BY price DESC, o_orderkey), 6) AS cume
FROM slice ORDER BY o_year, price DESC, o_orderkey""")
}
