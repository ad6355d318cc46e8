package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spearman rank correlation between order value and order date — the
  * monotone-trend detector that ignores the value distribution's heavy
  * tail (Pearson on raw prices is dominated by outliers; on RANKS it is
  * exactly Spearman's ρ with proper tie handling). Both variables' ranks
  * ride the [[MannWhitney]] doubled-rank trick (tie-averaged rank ×2 is
  * an integer), so every MOMENT (Σx, Σy, Σx², Σy², Σxy) is a BIGINT sum;
  * the covariance assembly then runs in double as
  *
  *   ρ = (Σxy − ΣxΣy/n) / (√(Σx² − (Σx)²/n) · √(Σy² − (Σy)²/n))
  *
  * with a FIXED operation order shared verbatim with the oracle — never
  * the n·Σ products, whose int64 multiply overflows at 150 k rows where
  * the moments themselves are exact to n ≈ 3·10⁵ (beyond that the sums
  * ride DECIMAL; documented envelope, same as [[ChiSquare]]).
  *
  * Scale: two distinct-value rank tables (running sums over value
  * domains), two lookup joins back to the rows, one moment aggregate.
  */
object SpearmanCorr extends graft.QueryModule {

  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select(floor($"o_totalprice").cast("long").as("x"),
        datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("y"))
    def rank2(df: DataFrame, c: String): DataFrame = {
      val counts = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      counts.withColumn("prior",
        coalesce(sum($"cnt").over(Window.orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(c), (lit(2) * ($"prior" + 1) + $"cnt" - 1).as(s"r$c"))
    }
    val moments = vals
      .join(rank2(vals, "x"), "x")
      .join(rank2(vals, "y"), "y")
      .agg(count(lit(1)).as("n"),
        sum($"rx").as("sx"), sum($"ry").as("sy"),
        sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"),
        sum($"rx" * $"ry").as("sxy"))
    // covariance form WITHOUT the n·Σ products: those int64 multiplies
    // overflow at 150k rows (2n-scale ranks cube the magnitudes) — the
    // NeymanAllocation lesson. Each BIGINT moment converts to double once;
    // operation order is shared verbatim with the oracle.
    moments.selectExpr("n",
      """(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        | / (sqrt(CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |    * sqrt(CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
        | AS spearman_rho""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_spearman_corr" -> (spearmanCorr _))

  val oracle: Map[String, String] = Map(
    "agg_spearman_corr" -> s"""WITH vals AS (
  SELECT floor(o_totalprice)::BIGINT AS x,
         datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS y
  FROM orders),
rx AS (
  SELECT x, (2 * (coalesce(sum(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
             + cnt - 1)::BIGINT AS rx
  FROM (SELECT x, count(*)::BIGINT AS cnt FROM vals GROUP BY x)),
ry AS (
  SELECT y, (2 * (coalesce(sum(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
             + cnt - 1)::BIGINT AS ry
  FROM (SELECT y, count(*)::BIGINT AS cnt FROM vals GROUP BY y)),
moments AS (
  SELECT count(*)::BIGINT AS n,
         sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
         sum(rx * rx)::BIGINT AS sxx, sum(ry * ry)::BIGINT AS syy,
         sum(rx * ry)::BIGINT AS sxy
  FROM vals JOIN rx USING (x) JOIN ry USING (y))
SELECT n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (sqrt(CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
            * sqrt(CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
         AS spearman_rho
FROM moments""")
}
