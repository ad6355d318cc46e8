package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wide→long reshape (UNPIVOT/melt) — the inverse of
  * [[WindowExtras]]' pivot (`agg_pivot_event_types`), completing the
  * reshape pair: monthly KPIs computed as one wide aggregate row per month
  * are melted into (month, metric, value) tuples, the shape chart layers
  * and metric stores ingest. Spark's `stack` generator is the native
  * UNPIVOT (one pass, no join, no shuffle beyond the source aggregate);
  * the long side is metric-name keyed, so downstream per-metric operators
  * are plain filters.
  *
  * All three metrics land in one common-typed value column — melt requires
  * it. The math runs in DECIMAL(18,2) (exact money), but the EMITTED column
  * is DOUBLE: counts and 2-decimal money are exactly representable in
  * float64, and the output boundary convention (see VerifySchemaSpec) is
  * BIGINT/DOUBLE only — DECIMAL outputs materialize as python Decimal
  * objects on one side and float64 on the other, tripping dtype-sensitive
  * downstream comparisons.
  */
object Reshape extends graft.QueryModule {

  /** Monthly (revenue, orders, customers) melted to metric rows. */
  def unpivotMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("int").as("month"))
      .agg(
        sum($"o_totalprice".cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"))
      .select($"month", expr(
        """stack(3,
          |  'revenue',     cast(cast(revenue as decimal(18,2)) as double),
          |  'n_orders',    cast(n_orders    as double),
          |  'n_customers', cast(n_customers as double)
          |) AS (metric, value)""".stripMargin))
      .orderBy($"month", $"metric")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_unpivot_monthly" -> (unpivotMonthly _))

  val oracle: Map[String, String] = Map(
    "agg_unpivot_monthly" -> """WITH wide AS (
  SELECT (year(o_orderdate) * 100 + month(o_orderdate))::INT AS month,
         sum(o_totalprice::DECIMAL(18,2))::DECIMAL(18,2) AS revenue,
         count(*)::BIGINT AS n_orders,
         count(DISTINCT o_custkey)::BIGINT AS n_customers
  FROM orders GROUP BY 1)
SELECT month, metric, value FROM (
  SELECT month, 'revenue' AS metric, revenue::DOUBLE AS value FROM wide
  UNION ALL
  SELECT month, 'n_orders', n_orders::DOUBLE FROM wide
  UNION ALL
  SELECT month, 'n_customers', n_customers::DOUBLE FROM wide)
ORDER BY month, metric""")
}
