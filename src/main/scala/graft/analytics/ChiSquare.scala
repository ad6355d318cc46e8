package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** χ² test of independence (order status × priority) with Cramér's V —
  * the categorical-association audit beside the numeric two-sample tests
  * ([[KsDistance]], [[MannWhitney]]): does the status distribution differ
  * by priority, and by how much after the sample size is factored out?
  *
  * Numerics: each cell's term is ((n·o − r·c)²)/(n·r·c) with the RESIDUAL
  * n·o − r·c an exact BIGINT and the square taken in double (squaring in
  * int64 overflows on strongly-associated tables long before the residual
  * does); the ~R·C term doubles are summed in SORTED CELL ORDER through the
  * collect_list/sort_array fold (the `curate_temperature_mix` pattern) —
  * never an unordered float aggregate. Degrees of freedom come from the
  * observed category counts; V = sqrt(χ²/(n·min(R−1, C−1))).
  *
  * Scale: one cell-keyed aggregate; margins join back as broadcasts; the
  * fold runs over R·C rows (category-bounded, not row-bounded).
  */
object ChiSquare extends graft.QueryModule {

  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, dir)
      .groupBy($"o_orderstatus".as("s"), $"o_orderpriority".as("p"))
      .agg(count(lit(1)).as("o"))
    val rm = cells.groupBy($"s").agg(sum($"o").as("r"))
    val cm = cells.groupBy($"p").agg(sum($"o").as("c"))
    val tot = cells.agg(sum($"o").as("n"),
      countDistinct($"s").as("nr"), countDistinct($"p").as("nc"))
    val terms = cells.join(broadcast(rm), "s").join(broadcast(cm), "p")
      .crossJoin(broadcast(tot))
      // the residual n·o − r·c is int64-exact; its SQUARE is taken in
      // double (a strongly-associated table pushes the squared BIGINT past
      // 2^63 while the residual itself is fine — the Spearman/Neyman
      // overflow lesson applied preemptively)
      .selectExpr("s", "p", "n", "nr", "nc",
        """CAST(n * o - r * c AS DOUBLE) * CAST(n * o - r * c AS DOUBLE)
          | / (CAST(n AS DOUBLE) * r * c) AS term""".stripMargin)
    terms.groupBy($"n", $"nr", $"nc")
      .agg(expr(
        """aggregate(
          |  transform(sort_array(collect_list(struct(s, p, term))),
          |    x -> x.term),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
        .as("chi2"))
      .selectExpr("n AS n_rows", "nr AS n_statuses", "nc AS n_priorities",
        "CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof", "chi2",
        """sqrt(chi2 / (CAST(n AS DOUBLE)
          |  * least(nr - 1, nc - 1))) AS cramers_v""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_chi2_independence" -> (chiSquare _))

  val oracle: Map[String, String] = Map(
    "agg_chi2_independence" -> s"""WITH cells AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*)::BIGINT AS o
  FROM orders GROUP BY 1, 2),
rm AS (SELECT s, sum(o)::BIGINT AS r FROM cells GROUP BY s),
cm AS (SELECT p, sum(o)::BIGINT AS c FROM cells GROUP BY p),
tot AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT s)::BIGINT AS nr,
               count(DISTINCT p)::BIGINT AS nc
        FROM cells),
terms AS (
  SELECT ce.s, ce.p, t.n, t.nr, t.nc,
         CAST(t.n * ce.o - rm.r * cm.c AS DOUBLE)
           * CAST(t.n * ce.o - rm.r * cm.c AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * rm.r * cm.c) AS term
  FROM cells ce
  JOIN rm USING (s) JOIN cm USING (p) CROSS JOIN tot t),
folded AS (
  SELECT n, nr, nc,
         list_sum(list_transform(
           list({'s': s, 'p': p, 'term': term} ORDER BY s, p),
           x -> x.term)) AS chi2
  FROM terms GROUP BY n, nr, nc)
SELECT n AS n_rows, nr AS n_statuses, nc AS n_priorities,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof, chi2,
       sqrt(chi2 / (CAST(n AS DOUBLE) * least(nr - 1, nc - 1))) AS cramers_v
FROM folded""")
}
