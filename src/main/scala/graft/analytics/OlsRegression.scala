package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed linear regression by sufficient statistics — the
  * training-pipeline primitive (data-quality trend fits, ablation slope
  * readouts, drift regressions) done the only way that scales: ONE
  * map-side-combined aggregate collects the moment sums, and the tiny
  * closed-form solve happens on the already-aggregated row. No gradient
  * loop, no per-iteration pass over the corpus.
  *
  *  - `agg_ols_trend` — per-mktsegment simple OLS of order value on
  *    order date: slope ($/day), intercept, and R². Six BIGINT moments
  *    per group (n, Σx, Σy, Σxx, Σxy, Σyy), exact regardless of
  *    summation order, so the hash compare is bit-stable cross-engine.
  *  - `agg_ridge_gram` — 2-feature ridge (features: days, priority
  *    class; λ=[[Lambda]]) via the Gram matrix: the aggregate emits the
  *    full 3×3 normal-equation system (9 BIGINT sums), and β solves by
  *    Cramer's rule in ONE fixed-order double assembly ([[cramer]]
  *    interpolates verbatim into both engines).
  *
  * The [[SpearmanCorr]] arithmetic discipline applies: integer-valued
  * regressors/targets (datediff days, floored dollars), BIGINT moments
  * (overflow envelope documented per sum — the largest, Σyy ≈ n·2.5e11,
  * stays exact to n ≈ 3·10⁷ rows per group; past that the sums ride
  * DECIMAL with the same assembly), each moment converted to DOUBLE
  * exactly once, and the covariance forms WITHOUT n·Σ products (those
  * cube the magnitudes and overflow first — the NeymanAllocation lesson).
  *
  * 100 TB shape: the only corpus-scale operator is the partial
  * aggregate; the shuffle carries one sketch row per (partition, group).
  * Ridge regularization (λ > 0) keeps the 3×3 system non-singular, so
  * the closed form cannot divide by zero on degenerate (constant-
  * feature) corpora.
  */
object OlsRegression extends graft.QueryModule {

  /** Ridge strength — ONE definition interpolated into both engines. */
  val Lambda = 10

  private def xy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir).select(
      $"o_custkey",
      datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("x"),
      floor($"o_totalprice").cast("long").as("y"),
      // '1-URGENT' → 1 … '5-LOW' → 5: an ordinal feature with no parsing
      substring($"o_orderpriority", 1, 1).cast("long").as("p"))
  }

  /** BIGINT moment → DOUBLE, exactly once, shared text. */
  private val dCols = Seq(
    "CAST(n AS DOUBLE) AS dn", "CAST(sx AS DOUBLE) AS dx",
    "CAST(sy AS DOUBLE) AS dy", "CAST(sxx AS DOUBLE) AS dxx",
    "CAST(sxy AS DOUBLE) AS dxy", "CAST(syy AS DOUBLE) AS dyy")

  /** Fixed-order covariance-form assembly (never n·Σ products). */
  private val olsFormulas = Seq(
    "(dxy - dx * dy / dn) / (dxx - dx * dx / dn) AS slope",
    "dy / dn - (dxy - dx * dy / dn) / (dxx - dx * dx / dn) * (dx / dn) AS intercept",
    "((dxy - dx * dy / dn) / (dxx - dx * dx / dn)) * ((dxy - dx * dy / dn) / (dxx - dx * dx / dn)) * (dxx - dx * dx / dn) / (dyy - dy * dy / dn) AS r2")

  /** Per-segment value-vs-date trend: broadcast dim join, one grouped
    * moment aggregate, closed-form β on the 5-row result.
    */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    xy(spark, dir)
      .join(broadcast(dim), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
        sum($"y" * $"y").as("syy"))
      .selectExpr("c_mktsegment" +: "n" +: dCols: _*)
      .selectExpr("c_mktsegment" +: "n" +: olsFormulas: _*)
      .orderBy($"c_mktsegment")
  }

  /** Cramer's rule for (G + λI)β = v, 3 parameters (β0 intercept,
    * β1 days, β2 priority). Every minor is written in the SAME +/−
    * expansion order in all four determinants so both engines evaluate
    * the identical double expression tree.
    */
  private val cramer: Seq[String] = {
    val det  = "(a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) + a13 * (a21 * a32 - a22 * a31))"
    val det1 = "(b1 * (a22 * a33 - a23 * a32) - a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a32 - a22 * b3))"
    val det2 = "(a11 * (b2 * a33 - a23 * b3) - b1 * (a21 * a33 - a23 * a31) + a13 * (a21 * b3 - b2 * a31))"
    val det3 = "(a11 * (a22 * b3 - b2 * a32) - a12 * (a21 * b3 - b2 * a31) + b1 * (a21 * a32 - a22 * a31))"
    Seq(s"$det1 / $det AS beta0", s"$det2 / $det AS beta1",
      s"$det3 / $det AS beta2")
  }

  /** The regularized Gram system, converted to DOUBLE once per entry.
    * λ lands on the diagonal in exact BIGINT arithmetic (before the
    * cast), so both engines add it losslessly.
    */
  private val gramDoubles = Seq(
    s"CAST(n + $Lambda AS DOUBLE) AS a11", "CAST(sx AS DOUBLE) AS a12",
    "CAST(sp AS DOUBLE) AS a13", "CAST(sx AS DOUBLE) AS a21",
    s"CAST(sxx + $Lambda AS DOUBLE) AS a22", "CAST(sxp AS DOUBLE) AS a23",
    "CAST(sp AS DOUBLE) AS a31", "CAST(sxp AS DOUBLE) AS a32",
    s"CAST(spp + $Lambda AS DOUBLE) AS a33",
    "CAST(sy AS DOUBLE) AS b1", "CAST(sxy AS DOUBLE) AS b2",
    "CAST(spy AS DOUBLE) AS b3")

  /** Global ridge fit: one aggregate emits the whole normal-equation
    * system; β assembles from it in closed form.
    */
  def ridgeGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    xy(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"p").as("sp"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"p").as("sxp"),
        sum($"p" * $"p").as("spp"),
        sum($"x" * $"y").as("sxy"), sum($"p" * $"y").as("spy"))
      .selectExpr("n" +: gramDoubles: _*)
      .selectExpr("n" +: cramer: _*)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_ols_trend" -> (olsTrend _),
    "agg_ridge_gram" -> (ridgeGram _))

  private val xyCte: String =
    """WITH xy AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS x,
         floor(o_totalprice)::BIGINT AS y,
         (substring(o_orderpriority, 1, 1))::BIGINT AS p
  FROM orders)"""

  val oracle: Map[String, String] = Map(
    "agg_ols_trend" -> s"""$xyCte,
m AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
         sum(y * y)::BIGINT AS syy
  FROM xy JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment),
d AS (SELECT c_mktsegment, n, ${dCols.mkString(", ")} FROM m)
SELECT c_mktsegment, n, ${olsFormulas.mkString(",\n       ")}
FROM d
ORDER BY c_mktsegment""",

    "agg_ridge_gram" -> s"""$xyCte,
m AS (
  SELECT count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(p)::BIGINT AS sp, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * p)::BIGINT AS sxp,
         sum(p * p)::BIGINT AS spp,
         sum(x * y)::BIGINT AS sxy, sum(p * y)::BIGINT AS spy
  FROM xy),
d AS (SELECT n, ${gramDoubles.mkString(", ")} FROM m)
SELECT n, ${cramer.mkString(",\n       ")}
FROM d""")
}
