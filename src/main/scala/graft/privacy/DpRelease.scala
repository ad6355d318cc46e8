package graft.privacy

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ε-differentially-private count release via the two-sided geometric
  * (discrete Laplace) mechanism — the integer-valued DP primitive
  * (Ghosh–Roughgarden–Sundararajan 2009) that pairs with the
  * [[Privacy]] audits: k/l/t tell you whether a record-level release is
  * safe; this operator implements the aggregate-release mechanism.
  *
  * PARITY HARNESS, NOT A PRIVATE RELEASE: DP noise must be sampled from a
  * PRNG, which would make the output unverifiable — so THIS instantiation
  * derives the "noise" deterministically from the PUBLIC group key
  * (u = h32("dp:" ++ key) via [[Md5Hash.h32]]), which means anyone who
  * knows the mechanism can recompute and subtract it: the ε here is
  * NOMINAL (column `nominal_epsilon`) and the deterministic variant
  * provides zero actual differential privacy. Its role is to pin the
  * mechanism's plumbing (inverse-CDF mapping, truncation accounting,
  * non-negativity clamp) against the oracle. A production release swaps
  * `u` for a real per-release PRNG draw — a one-line change that touches
  * no plan shape — and only then does the ε guarantee hold.
  *
  * Mechanism: u ∈ [0, 2³²) maps through a Scala-precomputed threshold
  * table (CDF of the two-sided geometric with α = e^(−ε), support
  * truncated where the tail mass drops below 2⁻³²; the truncation's
  * probability loss is itself < 2⁻³¹ — documented, not silent). Both
  * engines join u against the SAME literal interval table, so the
  * released counts hash-compare.
  *
  * Scale: the true aggregate is a map-side-combined count per group; the
  * noise join is against a ~50-row broadcast literal. Release cost is the
  * aggregate itself.
  */
object DpRelease extends graft.QueryModule {

  /** Privacy budget ε. α = e^(−ε) is the geometric decay. */
  val Epsilon = 1.0

  /** Truncated noise support [−[[NoiseBound]], +[[NoiseBound]]]: chosen so
    * the truncated tail mass < 2⁻³² (α^B·(1+α)/(1−α) bound).
    */
  val NoiseBound = 24

  /** Inclusive u-interval [lo, hi] → noise k, thresholds in 2³²rds. The
    * CDF is accumulated over doubles ONCE here in Scala and the resulting
    * Longs inlined into both engines — neither engine ever sees a float.
    */
  val NoiseIntervals: IndexedSeq[(Long, Long, Int)] = {
    val alpha = math.exp(-Epsilon)
    val p0 = (1 - alpha) / (1 + alpha)
    val ks = (-NoiseBound to NoiseBound)
    val masses = ks.map(k => p0 * math.pow(alpha, math.abs(k)))
    val total = masses.sum // renormalize the truncated support
    val scale = 4294967296.0 // 2^32
    var acc = 0.0
    val cuts = masses.map { m => acc += m / total; math.rint(acc * scale).toLong }
    var lo = 0L
    ks.zip(cuts).map { case (k, hi) =>
      val r = (lo, math.min(hi, 4294967296L) - 1, k)
      lo = hi
      r
    }
  }

  /** DP-released order counts per priority class: the true count never
    * leaves the plan unprotected in a production release — it is emitted
    * here BESIDE the noisy count because this operator's role in the test
    * matrix is auditing the mechanism itself (noise bounded, determinism);
    * a release build drops the `true_count` column.
    */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val intervals = NoiseIntervals.toDF("lo", "hi", "noise")
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority".as("group_key"))
      .agg(count(lit(1)).as("true_count"))
      .withColumn("u", Md5Hash.h32(concat(lit("dp:"), $"group_key")))
      .join(broadcast(intervals), $"u" >= $"lo" && $"u" <= $"hi")
      .select($"group_key", $"true_count", $"noise",
        greatest($"true_count" + $"noise", lit(0L)).as("released_count"),
        lit(Epsilon).as("nominal_epsilon"))
      .orderBy($"group_key")
  }

  /** Per-record contribution clamp for [[dpSums]] (whole currency units).
    * Clamping is not optional bookkeeping: an UNBOUNDED contribution makes
    * a sum's sensitivity infinite and no finite noise provides any ε — the
    * clamp is what the privacy accounting is ABOUT, so the ledger reports
    * how many records it bit (`n_clamped` = the clamp's utility cost).
    */
  val ClampBound = 200000L

  /** ε-DP SUM release — the second core primitive beside [[dpCounts]]
    * (same PARITY-HARNESS caveat: deterministic key-derived "noise", ε
    * nominal). Mechanism: each record's contribution is clamped to
    * [0, [[ClampBound]]], the clamped sum is rounded to the C-lattice, and
    * C-scaled two-sided-geometric noise is added — neighboring datasets
    * move the lattice point by at most one step, the textbook discrete-
    * Laplace-on-a-lattice argument. All integer arithmetic end to end.
    */
  def dpSums(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val intervals = NoiseIntervals.toDF("lo", "hi", "noise")
    val c = ClampBound
    Tables.orders(spark, dir)
      .select($"o_orderpriority".as("group_key"),
        least(floor($"o_totalprice").cast("long"), lit(c)).as("contrib"),
        (floor($"o_totalprice").cast("long") > c).cast("long").as("clamped"))
      .groupBy($"group_key")
      .agg(count(lit(1)).as("n_rows"),
        sum($"clamped").as("n_clamped"),
        sum($"contrib").as("true_sum"))
      // round-half-up to the C lattice: (s + C/2) div C — exact on longs
      // (`div`, never `/`: Spark's `/` on longs is DOUBLE division)
      .withColumn("lattice_sum", expr(s"(true_sum + ${c / 2}) div $c * $c"))
      .withColumn("u", Md5Hash.h32(concat(lit("dpsum:"), $"group_key")))
      .join(broadcast(intervals), $"u" >= $"lo" && $"u" <= $"hi")
      .select($"group_key", $"n_rows", $"n_clamped", $"true_sum",
        $"noise".cast("long").as("noise_steps"),
        greatest($"lattice_sum" + $"noise" * c, lit(0L)).as("released_sum"),
        lit(Epsilon).as("nominal_epsilon"))
      .orderBy($"group_key")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "priv_dp_counts" -> (dpCounts _),
    "priv_dp_sums" -> (dpSums _))

  private def intervalValuesSql: String =
    NoiseIntervals.map { case (lo, hi, k) => s"($lo,$hi,$k)" }.mkString(",")

  val oracle: Map[String, String] = Map(
    "priv_dp_counts" -> s"""WITH intervals(lo, hi, noise) AS
  (VALUES $intervalValuesSql),
agg AS (
  SELECT o_orderpriority AS group_key, count(*)::BIGINT AS true_count,
         ${Md5Hash.h32Sql("'dp:' || o_orderpriority")} AS u
  FROM orders GROUP BY o_orderpriority)
SELECT group_key, true_count, noise::INT AS noise,
       greatest(true_count + noise, 0)::BIGINT AS released_count,
       ${Epsilon}::DOUBLE AS nominal_epsilon
FROM agg JOIN intervals ON u >= lo AND u <= hi
ORDER BY group_key""",

    "priv_dp_sums" -> s"""WITH intervals(lo, hi, noise) AS
  (VALUES $intervalValuesSql),
agg AS (
  SELECT o_orderpriority AS group_key,
         count(*)::BIGINT AS n_rows,
         sum(CASE WHEN floor(o_totalprice)::BIGINT > $ClampBound
                  THEN 1 ELSE 0 END)::BIGINT AS n_clamped,
         sum(least(floor(o_totalprice)::BIGINT, $ClampBound))::BIGINT
           AS true_sum,
         ${Md5Hash.h32Sql("'dpsum:' || o_orderpriority")} AS u
  FROM orders GROUP BY o_orderpriority)
SELECT group_key, n_rows, n_clamped, true_sum,
       noise::BIGINT AS noise_steps,
       greatest((true_sum + ${ClampBound / 2}) // $ClampBound * $ClampBound
                + noise * $ClampBound, 0)::BIGINT AS released_sum,
       ${Epsilon}::DOUBLE AS nominal_epsilon
FROM agg JOIN intervals ON u >= lo AND u <= hi
ORDER BY group_key""")
}
