package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skyline (Pareto-frontier) query — the classic "operator SQL engines
  * lack" (Börzsönyi et al., ICDE 2001): the customers not DOMINATED in
  * (order frequency, lifetime spend) — no other customer is at least as
  * good on both axes and strictly better on one. The frontier is what a
  * retention team actually contacts; everything below it has a strictly
  * better twin.
  *
  * Relational reduction: collapse to one candidate per frequency level
  * (only the max-spend point at each f can be un-dominated; a SHARED
  * (f, m) maximum keeps all its customers — classic skylines keep ties),
  * then one descending-frequency window: level f is on the frontier iff
  * its max spend strictly exceeds every higher-frequency level's
  * (equal spend at higher f dominates — strict improvement on f). Spend
  * compares in exact DECIMAL, so the frontier test never touches a
  * float.
  *
  * Scale shape: one customer-grain aggregate (keyed shuffle), one
  * frequency-grain aggregate, then a window over DISTINCT frequency
  * levels — a staircase of at most max-orders-per-customer rows (a data
  * constant ~tens), never customer-cardinality. The O(n²) pairwise
  * dominance join this replaces is the textbook anti-pattern.
  */
object Skyline extends graft.QueryModule {

  def skylineFrontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("custkey"))
      .agg(count(lit(1)).as("frequency"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("monetary"))
    val perF = cust.groupBy($"frequency")
      .agg(max($"monetary").as("m_max"))
    val atPoint = cust.join(perF, "frequency")
      .filter($"monetary" === $"m_max")
      .groupBy($"frequency")
      .agg(count(lit(1)).as("n_customers"),
        min($"custkey").as("example_custkey"))
    // staircase window: ≤ max-orders-per-customer distinct levels
    val higher = Window.orderBy($"frequency".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    perF
      .withColumn("best_higher", max($"m_max").over(higher))
      .filter($"best_higher".isNull || $"m_max" > $"best_higher")
      .join(atPoint, "frequency")
      .select($"frequency", $"m_max".cast("double").as("monetary"),
        $"n_customers", $"example_custkey")
      .orderBy($"frequency")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_skyline_frontier" -> (skylineFrontier _))

  val oracle: Map[String, String] = Map(
    "win_skyline_frontier" -> """WITH cust AS (
  SELECT o_custkey AS custkey, count(*)::BIGINT AS frequency,
         sum(o_totalprice::DECIMAL(18,2)) AS monetary
  FROM orders GROUP BY 1),
per_f AS (
  SELECT frequency, max(monetary) AS m_max FROM cust GROUP BY frequency),
at_point AS (
  SELECT c.frequency, count(*)::BIGINT AS n_customers,
         min(c.custkey)::BIGINT AS example_custkey
  FROM cust c JOIN per_f p
    ON c.frequency = p.frequency AND c.monetary = p.m_max
  GROUP BY c.frequency),
staircase AS (
  SELECT frequency, m_max,
         max(m_max) OVER (ORDER BY frequency DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_higher
  FROM per_f)
SELECT s.frequency, CAST(s.m_max AS DOUBLE) AS monetary,
       a.n_customers, a.example_custkey
FROM staircase s JOIN at_point a USING (frequency)
WHERE s.best_higher IS NULL OR s.m_max > s.best_higher
ORDER BY s.frequency""")
}
