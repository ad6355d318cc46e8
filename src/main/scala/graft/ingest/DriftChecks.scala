package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-level data-quality screens — the checks that catch what
  * row-level validation ([[Ingest.cleanse]]'s CHECK predicates) cannot: a
  * feed whose every row is individually valid but whose *distribution* has
  * shifted (an upstream price rescale, a dropped region, synthetic filler).
  * Two standard instruments:
  *
  *  - Benford first-digit screen: naturally-occurring monetary amounts
  *    follow log₁₀(1+1/d); fabricated or truncated feeds don't. The
  *    expected shares are Scala-computed constants inlined as literals into
  *    BOTH engines' plans, so no cross-engine log arithmetic exists.
  *  - PSI (population stability index) between an old and new period:
  *    Σ (p−q)·ln(p/q) over value buckets, the drift metric ML platforms
  *    alarm on (>0.2 = investigate, >0.25 = shift). Laplace-smoothed counts
  *    keep every bucket's ratio finite without dropping empty buckets.
  *
  * Scale: both are one map-side bucketing pass + a domain-bounded aggregate
  * (9 digits / [[PsiBuckets]] buckets); the per-bucket shares are single
  * divisions of exact integers.
  *
  * On the no-engine-log rule: PSI's ln takes an arbitrary rational p/q, so
  * the [[graft.text.Entropy]] literal-table trick can't apply. The exposure
  * is deliberately bounded instead: exactly [[PsiBuckets]] ln evaluations
  * per run, each on a single scalar (never summed through a shuffle — the
  * running total accumulates over the 10-row ORDERED window frame, which
  * both engines walk sequentially in the same order), emitted only at 6 dp,
  * where a 1-ulp JVM-vs-libm divergence (~1e-17 at these magnitudes) sits
  * eleven orders below the rounding grid.
  */
object DriftChecks extends graft.QueryModule {

  /** PSI bucket count over the price domain. */
  val PsiBuckets = 10

  /** Fixed bucket width covering o_totalprice's [0, 550k) domain. */
  val PsiBucketWidth = 55000

  /** Period split for PSI: orders strictly before this date are "expected",
    * the rest "actual" — a deterministic calendar split, both engines.
    */
  val PsiSplitDate = "1998-01-01"

  /** Benford expected shares for digits 1..9, computed once in Scala and
    * inlined as identical double literals in both plans.
    */
  val BenfordExpected: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap

  /** First-digit distribution of order totals vs Benford expectation:
    * per digit, count, observed share (single exact division), expected
    * share (literal), and the absolute gap. The final row set is 9 rows.
    */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 0)
      .select(substring(floor($"o_totalprice").cast("bigint").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy($"digit")
      .agg(count(lit(1)).as("n"))
    val expected = BenfordExpected.toSeq.sortBy(_._1)
      .map { case (d, e) => (d, e) }
      .toDF("digit", "expected_share")
    digits.join(broadcast(expected), "digit")
      .withColumn("observed_share",
        $"n" * lit(1.0) / sum($"n").over(Window.partitionBy()))
      .select($"digit", $"n",
        round($"observed_share", 4).as("observed_share"),
        round($"expected_share", 4).as("expected_share"),
        round(abs($"observed_share" - $"expected_share"), 4).as("abs_gap"))
      .orderBy($"digit")
  }

  /** PSI drift of the order-total distribution between the pre- and
    * post-[[PsiSplitDate]] periods: per fixed-width bucket, smoothed
    * expected/actual shares, the bucket's PSI contribution, and the
    * running total PSI (the alarm number is the last row's value).
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bucketed = Tables.orders(spark, dir)
      .select(
        least(lit(PsiBuckets - 1),
          floor($"o_totalprice" / PsiBucketWidth)).cast("int").as("bucket"),
        when($"o_orderdate" < lit(PsiSplitDate), 1L).otherwise(0L).as("is_old"))
      .groupBy($"bucket")
      .agg(sum($"is_old").as("n_old"), sum(lit(1L) - $"is_old").as("n_new"))
    // dense bucket spine so structurally-empty buckets still smooth in
    val spine = spark.range(PsiBuckets).select($"id".cast("int").as("bucket"))
    val full = spine.join(bucketed, Seq("bucket"), "left")
      .select($"bucket",
        coalesce($"n_old", lit(0L)).as("n_old"),
        coalesce($"n_new", lit(0L)).as("n_new"))
    val tot = Window.partitionBy()
    full
      .withColumn("p", ($"n_old" + 1) * lit(1.0)
        / (sum($"n_old").over(tot) + PsiBuckets))
      .withColumn("q", ($"n_new" + 1) * lit(1.0)
        / (sum($"n_new").over(tot) + PsiBuckets))
      .withColumn("psi_term", ($"p" - $"q") * log($"p" / $"q"))
      .select($"bucket", $"n_old", $"n_new",
        round($"p", 6).as("expected_share"),
        round($"q", 6).as("actual_share"),
        round($"psi_term", 6).as("psi_term"),
        round(sum($"psi_term").over(Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6)
          .as("psi_running"))
      .orderBy($"bucket")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_benford" -> (benford _),
    "etl_psi_drift" -> (psiDrift _))

  private def expectedValuesSql: String =
    BenfordExpected.toSeq.sortBy(_._1)
      .map { case (d, e) => s"($d, $e)" }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "etl_benford" -> s"""WITH digits AS (
  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)::INT
           AS digit,
         count(*)::BIGINT AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1),
expected(digit, expected_share) AS (VALUES $expectedValuesSql)
SELECT d.digit::INT AS digit, n,
       round(n * 1.0 / sum(n) OVER (), 4) AS observed_share,
       round(expected_share, 4) AS expected_share,
       round(abs(n * 1.0 / sum(n) OVER () - expected_share), 4) AS abs_gap
FROM digits d JOIN expected e ON d.digit = e.digit
ORDER BY digit""",

    "etl_psi_drift" -> s"""WITH bucketed AS (
  SELECT least($PsiBuckets - 1,
               floor(o_totalprice / $PsiBucketWidth))::INT AS bucket,
         sum(CASE WHEN o_orderdate < DATE '$PsiSplitDate' THEN 1 ELSE 0 END)::BIGINT
           AS n_old,
         sum(CASE WHEN o_orderdate < DATE '$PsiSplitDate' THEN 0 ELSE 1 END)::BIGINT
           AS n_new
  FROM orders GROUP BY 1),
spine AS (SELECT unnest(range(0, $PsiBuckets))::INT AS bucket),
full_ AS (
  SELECT s.bucket, coalesce(n_old, 0)::BIGINT AS n_old,
         coalesce(n_new, 0)::BIGINT AS n_new
  FROM spine s LEFT JOIN bucketed b ON s.bucket = b.bucket),
shares AS (
  SELECT bucket, n_old, n_new,
         (n_old + 1) * 1.0 / (sum(n_old) OVER () + $PsiBuckets) AS p,
         (n_new + 1) * 1.0 / (sum(n_new) OVER () + $PsiBuckets) AS q
  FROM full_)
SELECT bucket, n_old, n_new,
       round(p, 6) AS expected_share,
       round(q, 6) AS actual_share,
       round((p - q) * ln(p / q), 6) AS psi_term,
       round(sum((p - q) * ln(p / q)) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS psi_running
FROM shares ORDER BY bucket""")
}
