package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
  * test that doesn't care that order values are heavy-tailed, beside the
  * exact-KS distance: weekend vs weekday order values again, so the two
  * tests referee the same comparison. Rank arithmetic stays integer by
  * the DOUBLED-rank trick: a tie group of c rows starting at rank s has
  * average rank s + (c−1)/2, so twice the rank sum of sample 1 is
  *
  *   2R₁ = Σ_v a(v)·(2s(v) + c(v) − 1)
  *
  * (a = sample-1 count at value v, s from a running sum over distinct
  * values) — a pure BIGINT fold, order-independent. U, the rank-biserial
  * effect size, and the tie-corrected normal z all derive from 2R₁ with
  * fixed-order double expressions shared verbatim with the oracle; sqrt
  * is the one blessed float call. No continuity correction (documented;
  * both engines identical either way).
  *
  * Scale: identical shape to [[KsDistance]] — value-keyed counts, one
  * running sum over DISTINCT values, one-row output.
  */
object MannWhitney extends graft.QueryModule {

  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.orders(spark, dir)
      .select(floor($"o_totalprice").cast("long").as("v"),
        (dayofweek($"o_orderdate").isin(1, 7)).cast("long").as("wk"))
      .groupBy($"v")
      .agg(sum($"wk").as("a"), sum(lit(1L) - $"wk").as("b"))
      .withColumn("c", $"a" + $"b")
    val cum = counts.withColumn("prior",
      coalesce(sum($"c").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val agg = cum.agg(
      sum($"a").as("n1"), sum($"b").as("n2"),
      sum($"a" * (lit(2) * ($"prior" + 1) + $"c" - 1)).as("two_r1"),
      sum($"c" * $"c" * $"c" - $"c").as("tie_sum"))
    agg.selectExpr("n1", "n2",
      "CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1",
      "1 - CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / (n1 * n2) AS rank_biserial",
      """(CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2
        |  - CAST(n1 * n2 AS DOUBLE) / 2)
        | / sqrt(CAST(n1 * n2 AS DOUBLE) / 12
        |   * ((n1 + n2 + 1)
        |      - CAST(tie_sum AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1))))
        | AS z_score""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_mann_whitney" -> (mannWhitney _))

  val oracle: Map[String, String] = Map(
    "agg_mann_whitney" -> s"""WITH counts AS (
  SELECT v, sum(wk)::BIGINT AS a, sum(1 - wk)::BIGINT AS b,
         (sum(wk) + sum(1 - wk))::BIGINT AS c
  FROM (SELECT floor(o_totalprice)::BIGINT AS v,
               (CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                     THEN 1 ELSE 0 END)::BIGINT AS wk
        FROM orders)
  GROUP BY v),
cum AS (
  SELECT *, coalesce(sum(c) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prior
  FROM counts),
agg AS (
  SELECT sum(a)::BIGINT AS n1, sum(b)::BIGINT AS n2,
         sum(a * (2 * (prior + 1) + c - 1))::BIGINT AS two_r1,
         sum(c * c * c - c)::BIGINT AS tie_sum
  FROM cum)
SELECT n1, n2,
       CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
       1 - CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / (n1 * n2) AS rank_biserial,
       (CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2
          - CAST(n1 * n2 AS DOUBLE) / 2)
         / sqrt(CAST(n1 * n2 AS DOUBLE) / 12
             * ((n1 + n2 + 1)
                - CAST(tie_sum AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1))))
         AS z_score
FROM agg""")
}
