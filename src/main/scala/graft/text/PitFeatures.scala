package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (leakage-free) feature generation — the feature-store
  * discipline every supervised training-data build needs: each example's
  * features may read ONLY history strictly BEFORE the example's own
  * timestamp. Joining "current" aggregates onto past examples leaks the
  * future into training (the tabular cousin of the test-set contamination
  * [[Curate.decontaminate]] guards against); the correct shape is an
  * as-of accumulation, not a join.
  *
  * For every order: the customer's prior order count, prior spend, and
  * days since their previous order — computed with one window over
  * (customer, date, key) using an UNBOUNDED-PRECEDING-to-1-BEFORE frame,
  * so the current row never sees itself or its future. No join at all:
  * one shuffle on the entity key, then a sequential frame scan — at 100 TB
  * this is the difference between a per-example correlated subquery (the
  * naive feature-store backfill, quadratic) and a single pass.
  *
  * Determinism: frame order is total (date, key); prior spend accumulates
  * in exact DECIMAL inside the window and is cast to DOUBLE only at the
  * output boundary; `days_since_prev` uses −1 as the first-order sentinel
  * (a nullable numeric output would be a dtype hazard, the
  * [[graft.warehouse.Scd2]] OpenEnd convention).
  */
object PitFeatures extends graft.QueryModule {

  def pitFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"d", $"o_orderkey")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        to_date($"o_orderdate").as("d"), $"o_totalprice")
      .select($"o_orderkey", $"o_custkey",
        datediff($"d", lit("1970-01-01")).as("order_day"),
        count(lit(1)).over(prior).as("n_prior_orders"),
        coalesce(sum($"o_totalprice".cast("decimal(12,2)")).over(prior),
          lit(0).cast("decimal(12,2)")).cast("double").as("prior_spend"),
        coalesce(datediff($"d", lag($"d", 1).over(w)), lit(-1))
          .as("days_since_prev"))
      .orderBy($"o_orderkey")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_pit_features" -> (pitFeatures _))

  val oracle: Map[String, String] = Map(
    "curate_pit_features" -> """SELECT o_orderkey, o_custkey,
       datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))::INT
         AS order_day,
       (count(*) OVER prior)::BIGINT AS n_prior_orders,
       coalesce(sum(o_totalprice::DECIMAL(12,2)) OVER prior,
                0::DECIMAL(12,2))::DOUBLE AS prior_spend,
       coalesce(datediff('day',
           lag(CAST(o_orderdate AS DATE), 1) OVER w,
           CAST(o_orderdate AS DATE)), -1)::INT AS days_since_prev
FROM orders
WINDOW
  w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
  prior AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
ORDER BY o_orderkey""")
}
