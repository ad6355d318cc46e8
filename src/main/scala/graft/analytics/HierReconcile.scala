package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hierarchical forecast reconciliation — the "forecasts don't add up"
  * problem (Hyndman et al.): per-nation and per-region monthly order
  * forecasts made INDEPENDENTLY are incoherent whenever the base
  * forecaster is nonlinear, and a planning system has to pick a
  * reconciliation. This entry measures the choice on the nation→region
  * hierarchy: the base forecaster is the integer two-period same-month
  * mean f = (y₋₁₂ + y₋₂₄) div 2 (the `div` is the nonlinearity — floor
  * rounding is exactly why real product-level forecasts never sum to the
  * category forecast), the horizon is the corpus's final year, and per
  * region the report carries the direct forecast, the bottom-up sum of
  * nation forecasts, their coherence gap, and both sides' MAE against
  * actuals — every number a BIGINT (no float enters the operator at
  * all).
  *
  * Scale: monthly rollup is one keyed aggregate; forecasts are two
  * self-equi-joins on (series, month−12/−24) — shifted-key joins, no
  * windows, no cross products; the hierarchy dims broadcast.
  */
object HierReconcile extends graft.QueryModule {

  def hierReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val monthly = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_regionkey".as("region"), $"n_nationkey".as("nation"),
        (year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(count(lit(1)).as("n"))
    val maxYear = monthly.agg(max(expr("ym div 100")).as("maxy"))

    def fc(df: DataFrame, keys: Seq[String]): DataFrame = {
      val a = df.withColumnRenamed("n", "y12")
        .withColumn("ym", $"ym" + 100)
      val b = df.withColumnRenamed("n", "y24")
        .withColumn("ym", $"ym" + 200)
      df.join(a, keys :+ "ym").join(b, keys :+ "ym")
        .withColumn("f", expr("(y12 + y24) div 2"))
    }

    val natFc = fc(monthly, Seq("region", "nation"))
      .crossJoin(broadcast(maxYear))
      .filter(expr("ym div 100 = maxy"))
    val regMonthly = monthly.groupBy($"region", $"ym")
      .agg(sum($"n").as("n"))
    val regFc = fc(regMonthly, Seq("region"))
      .crossJoin(broadcast(maxYear))
      .filter(expr("ym div 100 = maxy"))
      .select($"region", $"ym", $"n".as("actual"), $"f".as("direct"))
    val bottomUp = natFc.groupBy($"region", $"ym")
      .agg(sum($"f").as("bottom_up"))

    regFc.join(bottomUp, Seq("region", "ym"))
      .groupBy($"region")
      .agg(count(lit(1)).as("n_months"),
        sum($"actual").as("actual_total"),
        sum($"direct").as("direct_fc"),
        sum($"bottom_up").as("bottom_up_fc"),
        sum($"direct" - $"bottom_up").as("coherence_gap"),
        sum(abs($"actual" - $"direct")).as("mae_num_direct"),
        sum(abs($"actual" - $"bottom_up")).as("mae_num_bottom_up"))
      .select($"region".cast("bigint").as("region"), $"n_months",
        $"actual_total", $"direct_fc", $"bottom_up_fc", $"coherence_gap",
        $"mae_num_direct", $"mae_num_bottom_up")
      .orderBy($"region")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_hier_reconcile" -> (hierReconcile _))

  val oracle: Map[String, String] = Map(
    "ts_hier_reconcile" -> s"""WITH monthly AS (
  SELECT n.n_regionkey AS region, n.n_nationkey AS nation,
         (year(o.o_orderdate) * 100 + month(o.o_orderdate))::BIGINT AS ym,
         count(*)::BIGINT AS n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3),
maxy AS (SELECT max(ym // 100)::BIGINT AS maxy FROM monthly),
nat_fc AS (
  SELECT m.region, m.nation, m.ym, (a.n + b.n) // 2 AS f
  FROM monthly m
  JOIN monthly a ON a.region = m.region AND a.nation = m.nation
                AND a.ym = m.ym - 100
  JOIN monthly b ON b.region = m.region AND b.nation = m.nation
                AND b.ym = m.ym - 200
  CROSS JOIN maxy
  WHERE m.ym // 100 = maxy),
reg_monthly AS (
  SELECT region, ym, sum(n)::BIGINT AS n FROM monthly GROUP BY region, ym),
reg_fc AS (
  SELECT m.region, m.ym, m.n AS actual, (a.n + b.n) // 2 AS direct
  FROM reg_monthly m
  JOIN reg_monthly a ON a.region = m.region AND a.ym = m.ym - 100
  JOIN reg_monthly b ON b.region = m.region AND b.ym = m.ym - 200
  CROSS JOIN maxy
  WHERE m.ym // 100 = maxy),
bottom_up AS (
  SELECT region, ym, sum(f)::BIGINT AS bottom_up
  FROM nat_fc GROUP BY region, ym)
SELECT r.region::BIGINT AS region, count(*)::BIGINT AS n_months,
       sum(r.actual)::BIGINT AS actual_total,
       sum(r.direct)::BIGINT AS direct_fc,
       sum(b.bottom_up)::BIGINT AS bottom_up_fc,
       sum(r.direct - b.bottom_up)::BIGINT AS coherence_gap,
       sum(abs(r.actual - r.direct))::BIGINT AS mae_num_direct,
       sum(abs(r.actual - b.bottom_up))::BIGINT AS mae_num_bottom_up
FROM reg_fc r JOIN bottom_up b ON r.region = b.region AND r.ym = b.ym
GROUP BY r.region
ORDER BY r.region""")
}
