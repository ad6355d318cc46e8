package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Neyman-optimal stratified sample allocation (Neyman 1934 — the survey-
  * sampling design rule every proportional-sample audit eventually
  * upgrades to): given a total probe budget, allocate to each stratum h
  * in proportion to N_h·S_h, so high-variance strata get the probes that
  * shrink the estimator's variance fastest. This is the planner that sits
  * in front of `src_stratified_sample`'s executor — proportional
  * allocation oversamples big uniform strata and starves small volatile
  * ones.
  *
  * Determinism: per-stratum stddev comes from the SHIFTED two-pass sums —
  * deviations from the integer pivot Σx div n keep Σd² itself inside
  * BIGINT, and the variance is then (Σd² − (Σd)²/n)/(n−1) evaluated in
  * double with a FIXED operation order shared verbatim with the oracle
  * (never the nΣd² product, whose int64 multiply overflows four orders of
  * magnitude before Σd² does), and `sqrt` (correctly rounded by
  * IEEE, the repo's one blessed float function). The allocation
  * denominator Σ N_h·S_h is folded in stratum order on both engines
  * (the `curate_temperature_mix` pattern), never through an unordered
  * float aggregate.
  *
  * Scale: two keyed passes over the fact (count/sum, then deviation
  * sums), a |strata|-row everything-else. The pivot join broadcasts.
  */
object NeymanAllocation extends graft.QueryModule {

  /** Total sample budget the allocation distributes. */
  val SampleBudget = 1000

  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select($"o_orderpriority".as("stratum"),
        floor($"o_totalprice").cast("long").as("x"))
    val base = vals.groupBy($"stratum")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      .withColumn("pivot", expr("sx div n"))
    val devs = vals.join(broadcast(base.select($"stratum", $"pivot")), "stratum")
      .select($"stratum", ($"x" - $"pivot").as("d"))
      .groupBy($"stratum")
      .agg(sum($"d").as("sd"), sum($"d" * $"d").as("sdd"))
    // variance WITHOUT the n·Σd² product: that int64 multiply overflows
    // four orders of magnitude before Σd² itself does (it threw at sf0.1
    // under ANSI). Σd² and the tiny truncation residue Σd convert to
    // double once each; the division order is shared verbatim with the
    // oracle.
    val per = base.join(devs, "stratum")
      .withColumn("stddev", expr(
        """sqrt((CAST(sdd AS DOUBLE)
          |  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) / (n - 1))"""
          .stripMargin))
      .withColumn("w", $"n" * $"stddev")
    val den = per.agg(expr(
      """aggregate(
        |  transform(sort_array(collect_list(struct(stratum, w))),
        |    s -> s.w),
        |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
      .as("denom"))
    per.crossJoin(broadcast(den))
      .select($"stratum", $"n".as("n_rows"),
        ($"sx".cast("double") / $"n").as("mean_value"),
        $"stddev",
        ($"w" / $"denom").as("alloc_share"),
        (lit(SampleBudget.toDouble) * ($"w" / $"denom")).as("alloc_n"))
      .orderBy($"stratum")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_neyman_allocation" -> (neymanAllocation _))

  val oracle: Map[String, String] = Map(
    "src_neyman_allocation" -> s"""WITH vals AS (
  SELECT o_orderpriority AS stratum, floor(o_totalprice)::BIGINT AS x
  FROM orders),
base AS (
  SELECT stratum, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
  FROM vals GROUP BY stratum),
pivoted AS (SELECT stratum, n, sx, sx // n AS pivot FROM base),
devs AS (
  SELECT v.stratum,
         sum(v.x - p.pivot)::BIGINT AS sd,
         sum((v.x - p.pivot) * (v.x - p.pivot))::BIGINT AS sdd
  FROM vals v JOIN pivoted p USING (stratum)
  GROUP BY v.stratum),
per AS (
  SELECT p.stratum, p.n, p.sx,
         sqrt((CAST(d.sdd AS DOUBLE)
           - CAST(d.sd AS DOUBLE) * CAST(d.sd AS DOUBLE) / p.n) / (p.n - 1))
           AS stddev
  FROM pivoted p JOIN devs d USING (stratum)),
weighted AS (SELECT *, n * stddev AS w FROM per),
den AS (
  SELECT list_sum(list_transform(list({'stratum': stratum, 'w': w}
                                      ORDER BY stratum),
                                 s -> s.w)) AS denom
  FROM weighted)
SELECT stratum, n AS n_rows,
       sx::DOUBLE / n AS mean_value,
       stddev,
       w / denom AS alloc_share,
       ${SampleBudget.toDouble} * (w / denom) AS alloc_n
FROM weighted, den
ORDER BY stratum""")
}
