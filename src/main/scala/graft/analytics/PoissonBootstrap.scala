package graft.analytics

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Poisson bootstrap (Chamandy et al. 2012, Google's "Estimating
  * uncertainty for massive data streams") — THE bootstrap that works in
  * one distributed pass: classical resampling needs n draws per replicate
  * (a shuffle per replicate); the Poisson trick gives every row an
  * independent Poisson(1) weight per replicate, so all [[Replicates]]
  * resampled means come out of ONE map-side-weighted aggregate. The CI a
  * dashboard quotes on a 100 TB mean costs one scan.
  *
  * Determinism (the repo's DpRelease pattern): the Poisson(1) draw is
  * inverse-CDF over a Scala-precomputed literal interval table (tail
  * truncated at [[MaxW]] where the mass drops below 2⁻³²), keyed by the
  * md5 h32 of (replicate, order key) — both engines join the SAME
  * intervals, so every replicate weight, every resampled mean, and the
  * percentile CI are hash-identical. Weighted sums stay BIGINT until the
  * one division per replicate.
  *
  * Output: one row per replicate (its effective n and resampled mean)
  * plus the point estimate and the percentile-CI endpoints (exact order
  * statistics of the replicate means — min/max at B=[[Replicates]],
  * ≈ an 88% interval) carried on every row.
  */
object PoissonBootstrap extends graft.QueryModule {

  /** Bootstrap replicates — one weighted aggregate computes them all. */
  val Replicates = 16

  /** Poisson(1) support cap: P(W > 8) < 2^-32·remainder — truncated. */
  val MaxW = 8

  /** Inclusive u-interval [lo, hi] → weight w, thresholds in 2³²rds. */
  val WeightIntervals: IndexedSeq[(Long, Long, Int)] = {
    val masses = (0 to MaxW).map { k =>
      var f = 1.0
      for (i <- 1 to k) f *= i
      math.exp(-1.0) / f
    }
    val total = masses.sum
    val scale = 4294967296.0
    var acc = 0.0
    val cuts = masses.map { m => acc += m / total; math.rint(acc * scale).toLong }
    var lo = 0L
    (0 to MaxW).zip(cuts).map { case (k, hi) =>
      val r = (lo, math.min(hi, 4294967296L) - 1, k)
      lo = hi
      r
    }
  }

  /** The interval table as a codegen'd chained CASE: the Poisson(1) CDF is
    * a step function over [[MaxW]] literal cutpoints, so `w(u)` is pure
    * per-row arithmetic — no join node at all (the earlier broadcast
    * interval join planned a BroadcastNestedLoopJoin in the hot path:
    * bounded at 9 comparisons/row, but still the bench's slowest batch
    * query). The chain tests ascending k, which is also
    * most-probable-first for Poisson(1) (P(0)≈P(1)≈.37, P(2)≈.18), so
    * the expected branch depth is ~2. PoissonBootstrapPlanSpec pins the
    * no-BNLJ plan; the oracle keeps the equivalent interval-join form.
    */
  private[analytics] def weightOf(u: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val chain = WeightIntervals.init.foldLeft(
        Option.empty[org.apache.spark.sql.Column]) {
      case (acc, (_, hi, k)) =>
        Some(acc.fold(when(u <= hi, k))(_.when(u <= hi, k)))
    }
    chain.get.otherwise(MaxW)
  }

  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.orders(spark, dir)
      .select($"o_orderkey", floor($"o_totalprice").cast("long").as("x"))
    // the 16× replicate explode + per-row md5 is the wall here, and it
    // rides the orders scan — one row group, one task, one core
    // (Tables.spreadNarrowScan: the exchange only exists when the input
    // is too small to split)
    val weighted = Tables.spreadNarrowScan(vals)
      .select($"o_orderkey", $"x",
        explode(sequence(lit(0), lit(Replicates - 1))).as("b"))
      .withColumn("u", Md5Hash.h32(concat(lit("boot"), $"b".cast("string"),
        lit(":"), $"o_orderkey".cast("string"))))
      .withColumn("w", weightOf($"u"))
      .groupBy($"b")
      .agg(sum($"w".cast("long")).as("n_eff"),
        sum($"w" * $"x").as("wx"))
      .select($"b".cast("int").as("replicate"), $"n_eff",
        ($"wx".cast("double") / $"n_eff").as("boot_mean"))
    val point = vals.agg(
      (sum($"x").cast("double") / count(lit(1))).as("point_mean"))
    val w = Window.partitionBy(lit(1))
    weighted.crossJoin(broadcast(point))
      .withColumn("ci_lo", min($"boot_mean").over(w))
      .withColumn("ci_hi", max($"boot_mean").over(w))
      .select($"replicate", $"n_eff", $"boot_mean", $"point_mean",
        $"ci_lo", $"ci_hi")
      .orderBy($"replicate")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_poisson_bootstrap" -> (poissonBootstrap _))

  private def intervalValuesSql: String =
    WeightIntervals.map { case (lo, hi, k) => s"($lo,$hi,$k)" }.mkString(",")

  val oracle: Map[String, String] = Map(
    "agg_poisson_bootstrap" -> s"""WITH intervals(lo, hi, w) AS
  (VALUES $intervalValuesSql),
vals AS (
  SELECT o_orderkey, floor(o_totalprice)::BIGINT AS x FROM orders),
weighted AS (
  SELECT b.b::INT AS replicate,
         sum(iv.w)::BIGINT AS n_eff,
         (sum(iv.w * v.x)::BIGINT)::DOUBLE / sum(iv.w)::BIGINT AS boot_mean
  FROM vals v
  CROSS JOIN (SELECT unnest(range(0, $Replicates)) AS b) b
  JOIN intervals iv
    ON ${Md5Hash.h32Sql("'boot' || b.b::VARCHAR || ':' || v.o_orderkey::VARCHAR")}
       BETWEEN iv.lo AND iv.hi
  GROUP BY b.b),
point AS (
  SELECT sum(x)::BIGINT::DOUBLE / count(*) AS point_mean FROM vals)
SELECT w.replicate, w.n_eff, w.boot_mean, p.point_mean,
       min(w.boot_mean) OVER () AS ci_lo,
       max(w.boot_mean) OVER () AS ci_hi
FROM weighted w CROSS JOIN point p
ORDER BY w.replicate""")
}
