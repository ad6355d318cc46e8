package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov distance — the distribution-shift
  * test a pipeline runs between cohorts (weekend vs weekday order values
  * here; train-vs-serve feature drift in production, beside the PSI the
  * ingest stack already reports). The textbook statistic is
  * sup |F₁(x) − F₂(x)| over empirical CDFs — float CDFs would be two
  * divisions per step and a max over them; instead the sup is taken over
  * the INTEGER cross-multiplied form
  *
  *   D·n₁·n₂ = max over observed x of |c₁(x)·n₂ − c₂(x)·n₁|
  *
  * (c_i = cumulative counts at x) — every candidate is a BIGINT, the max
  * is order-independent, and the single division happens once at the
  * output. The critical-value comparison (α = 0.05 two-sample:
  * c(α)·√((n₁+n₂)/(n₁n₂)) with c = 1.358) uses only the blessed sqrt.
  *
  * Scale: one value-keyed count aggregate, one running sum over DISTINCT
  * values (bounded by the value domain, not the row count — and at a
  * billion rows the same statistic runs on the q-digest's cells), one
  * max. The global window rides distinct values only.
  */
object KsDistance extends graft.QueryModule {

  /** Two-sample KS critical coefficient at α = 0.05. */
  val CritAlpha05 = 1.358

  def ksDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select(floor($"o_totalprice").cast("long").as("v"),
        (dayofweek($"o_orderdate").isin(1, 7)).cast("int").as("weekend"))
    val counts = vals.groupBy($"v")
      .agg(sum($"weekend".cast("long")).as("a"),
        sum(lit(1L) - $"weekend").as("b"))
    val tot = counts.agg(sum($"a").as("n1"), sum($"b").as("n2"))
    val cum = counts
      .withColumn("c1", sum($"a").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("c2", sum($"b").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(tot))
      .select(abs($"c1" * $"n2" - $"c2" * $"n1").as("num"), $"n1", $"n2")
      .groupBy($"n1", $"n2")
      .agg(max($"num").as("dnum"))
      .select($"n1", $"n2",
        ($"dnum".cast("double") / ($"n1" * $"n2")).as("ks_distance"),
        (lit(CritAlpha05) *
          sqrt(($"n1" + $"n2").cast("double") / ($"n1" * $"n2")))
          .as("crit_05"),
        ($"dnum".cast("double") / ($"n1" * $"n2") >
          lit(CritAlpha05) *
            sqrt(($"n1" + $"n2").cast("double") / ($"n1" * $"n2")))
          .cast("int").as("reject_05"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_ks_distance" -> (ksDistance _))

  val oracle: Map[String, String] = Map(
    "agg_ks_distance" -> s"""WITH vals AS (
  SELECT floor(o_totalprice)::BIGINT AS v,
         (CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END)
           AS weekend
  FROM orders),
counts AS (
  SELECT v, sum(weekend)::BIGINT AS a, sum(1 - weekend)::BIGINT AS b
  FROM vals GROUP BY v),
tot AS (SELECT sum(a)::BIGINT AS n1, sum(b)::BIGINT AS n2 FROM counts),
cum AS (
  SELECT v,
         sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS c1,
         sum(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS c2
  FROM counts),
dmax AS (
  SELECT t.n1, t.n2, max(abs(c.c1 * t.n2 - c.c2 * t.n1))::BIGINT AS dnum
  FROM cum c CROSS JOIN tot t
  GROUP BY t.n1, t.n2)
SELECT n1, n2,
       dnum::DOUBLE / (n1 * n2) AS ks_distance,
       $CritAlpha05 * sqrt((n1 + n2)::DOUBLE / (n1 * n2)) AS crit_05,
       (CASE WHEN dnum::DOUBLE / (n1 * n2) >
               $CritAlpha05 * sqrt((n1 + n2)::DOUBLE / (n1 * n2))
             THEN 1 ELSE 0 END)::INT AS reject_05
FROM dmax""")
}
