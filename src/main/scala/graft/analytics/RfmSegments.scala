package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RFM segmentation — the marketing-analytics classic the reference's
  * patient-utilization queries (q04/q08) gesture at, done as the full
  * three-axis quintile grid: per customer, Recency (days from last order
  * to the corpus horizon), Frequency (order count) and Monetary (lifetime
  * spend, DECIMAL-exact), each scored 1–5 by `ntile(5)` over a TOTAL
  * order (metric + custkey tiebreak — ntile is only deterministic when
  * its ORDER BY is), then rolled up per (r, f, m) cell with the counts
  * and spend a campaign planner reads off.
  *
  * ntile semantics (equal buckets, earlier buckets take the remainder)
  * are identical in Spark and DuckDB, and the tiebreak makes the
  * assignment a pure function of the data — the whole grid
  * hash-compares. Note recency scores 5 = most recent (the
  * `orderBy desc`), matching the conventional "R5F5M5 = best".
  *
  * Scale shape: one aggregate to customer grain (keyed shuffle), then
  * three windows over the CUSTOMER table. Unpartitioned ntile windows
  * sort customer-grain rows — at 10⁸ customers that is a real but
  * single-key sort (range-partitioned under the hood), the standard cost
  * of exact population quantiles; the alternative (approx percentile
  * cuts) trades exactness and is the documented swap at extreme scale.
  */
object RfmSegments extends graft.QueryModule {

  /** Quintile count. One value, both engines. */
  val Tiles = 5

  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val horizon = o.agg(max(to_date($"o_orderdate")).as("h"))
    val cust = o.groupBy($"o_custkey".as("custkey"))
      .agg(max(to_date($"o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("monetary"))
      .crossJoin(broadcast(horizon))
      .select($"custkey",
        datediff($"h", $"last_order").cast("bigint").as("recency_days"),
        $"frequency", $"monetary")
    val scored = cust
      .withColumn("r_score", ntile(Tiles).over(
        Window.orderBy($"recency_days".desc, $"custkey")))
      .withColumn("f_score", ntile(Tiles).over(
        Window.orderBy($"frequency", $"custkey")))
      .withColumn("m_score", ntile(Tiles).over(
        Window.orderBy($"monetary", $"custkey")))
    scored.groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        min($"recency_days").as("min_recency"),
        max($"frequency").as("max_frequency"),
        sum($"monetary").cast("double").as("cell_monetary"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_rfm_segments" -> (rfmSegments _))

  val oracle: Map[String, String] = Map(
    "agg_rfm_segments" -> s"""WITH cust AS (
  SELECT o_custkey AS custkey,
         datediff('day', max(o_orderdate::DATE),
                  (SELECT max(o_orderdate::DATE) FROM orders))::BIGINT
           AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(o_totalprice::DECIMAL(18,2)) AS monetary
  FROM orders GROUP BY 1),
scored AS (
  SELECT custkey, recency_days, frequency, monetary,
         ntile($Tiles) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
         ntile($Tiles) OVER (ORDER BY frequency, custkey) AS f_score,
         ntile($Tiles) OVER (ORDER BY monetary, custkey) AS m_score
  FROM cust)
SELECT r_score::INT AS r_score, f_score::INT AS f_score,
       m_score::INT AS m_score,
       count(*)::BIGINT AS n_customers,
       min(recency_days)::BIGINT AS min_recency,
       max(frequency)::BIGINT AS max_frequency,
       sum(monetary)::DOUBLE AS cell_monetary
FROM scored GROUP BY 1, 2, 3
ORDER BY 1, 2, 3""")
}
