package graft.analytics

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic count-min sketch (Cormode–Muthukrishnan, public
  * literature) over the event stream — the frequency-estimation sibling of
  * the KMV cardinality sketch family ([[WindowExtras.kmvDistinct]]).
  *
  * [[WindowExtras.heavyHitters]] already exercises Spark's built-in
  * `stat.countMinSketch`, but that sketch's hash family is opaque, so only
  * its CONTRACT (never under-counts, bounded over-count) can be checked.
  * This variant derives every row's d buckets from the shared md5 h32 base,
  * so the full sketch — counters, per-key minimum, over-count — is
  * reproduced bit-for-bit by the DuckDB oracle and hash-compared, the same
  * upgrade [[WindowExtras.kmvDistinct]] makes over `approx_count_distinct`.
  *
  * Build shape: the sketch is folded from per-key partial counts
  * (groupBy(user) → n, then n summed into each of the d×[[CmsW]] counters).
  * That is algebraically identical to per-row updates — CMS counters are
  * plain sums — and is exactly what map-side partial aggregation would do
  * anyway; at 100 TB the d×W counter grid (a few KB) is the only state
  * crossing the final merge, and the estimate join broadcasts it.
  */
object CmSketch extends graft.QueryModule {

  /** Sketch width (counters per hash row). Deliberately small so bucket
    * collisions actually occur at test scale and the over-count column is
    * non-trivially exercised. One value, both engines.
    */
  val CmsW = 64

  /** Number of independent hash rows (depth d). */
  val CmsD = 4

  /** Top-k keys reported (by exact count, key tiebreak). */
  val TopK = 10

  /** CMS estimates vs exact for the [[TopK]] heaviest users: the estimate
    * is min over the d rows of the counter each row hashes the key into;
    * `overcount = cms_est − n_exact ≥ 0` is the collision mass the sketch
    * absorbed. Every number is an integer sum/min — order-independent
    * across any shuffle parallelism.
    */
  def cmsEstimates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))

    // every (user, hash-row) pair with its bucket — fan-out is exactly d
    val bucketed = perUser
      .select($"user_id", $"n",
        explode(sequence(lit(0), lit(CmsD - 1))).as("d"))
      .withColumn("bucket",
        pmod(Md5Hash.h32(concat(lit("cms"), $"d".cast("string"), lit(":"),
          $"user_id".cast("string"))), lit(CmsW)))

    // the d×W counter grid: total event mass per (row, bucket)
    val sketch = bucketed.groupBy($"d", $"bucket")
      .agg(sum($"n").as("cnt"))

    val estimates = bucketed
      .join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy($"user_id")
      .agg(min($"cnt").as("cms_est"), min($"n").as("n_exact"))

    estimates
      .select($"user_id", $"n_exact", $"cms_est",
        ($"cms_est" - $"n_exact").as("overcount"))
      .orderBy($"n_exact".desc, $"user_id")
      .limit(TopK)
  }

  /** CMS join-size estimation (the AMS/CMS inner-product bound, Cormode–
    * Muthukrishnan §4.3): |events ⋈ orders on user key| = Σ_k nE(k)·nO(k)
    * is what a cost-based planner wants BEFORE running the join, and the
    * inner product of the two sketches' counter rows — min over the d
    * rows — overestimates it by at most the collision mass. Both sides'
    * grids are d×[[CmsW]] integers, so the estimate costs two key-grouped
    * aggregates plus a few-KB broadcast — no pair materialization —
    * while the exact value needs the key-join itself. Emitted side by
    * side (exact here is cheap at test scale; at 100 TB it's the join
    * you were trying to avoid), the overcount prices the sketch for the
    * planner. All integers end to end.
    */
  def cmsJoinSize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def grid(perKey: DataFrame): DataFrame = perKey
      .select($"k", $"n", explode(sequence(lit(0), lit(CmsD - 1))).as("d"))
      .withColumn("bucket",
        pmod(Md5Hash.h32(concat(lit("cmsj"), $"d".cast("string"), lit(":"),
          $"k".cast("string"))), lit(CmsW)))
      .groupBy($"d", $"bucket").agg(sum($"n").as("cnt"))
    val perE = Tables.events(spark, dir)
      .groupBy($"user_id".as("k")).agg(count(lit(1)).as("n"))
    val perO = Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("k")).agg(count(lit(1)).as("n"))
    val est = grid(perE).withColumnRenamed("cnt", "ce")
      .join(grid(perO).withColumnRenamed("cnt", "co"), Seq("d", "bucket"))
      .groupBy($"d").agg(sum($"ce" * $"co").as("row_est"))
      .agg(min($"row_est").as("cms_join_size"))
    val exact = perE.join(perO.withColumnRenamed("n", "m"), "k")
      .agg(coalesce(sum($"n" * $"m"), lit(0L)).as("exact_join_size"))
    exact.crossJoin(est)
      .select($"exact_join_size", $"cms_join_size",
        ($"cms_join_size" - $"exact_join_size").as("overcount"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_cms_estimates" -> (cmsEstimates _),
    "agg_cms_join_size" -> (cmsJoinSize _))

  private def bucketSql(d: String): String =
    s"(${Md5Hash.h32Sql(s"'cms' || $d::VARCHAR || ':' || user_id::VARCHAR")})" +
      s" % $CmsW"

  val oracle: Map[String, String] = Map(
    "agg_cms_estimates" -> s"""WITH per_user AS (
  SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id),
bucketed AS (
  SELECT user_id, n, d.d, ${bucketSql("d.d")} AS bucket
  FROM per_user, (SELECT unnest(range(0, $CmsD)) AS d) d),
sketch AS (
  SELECT d, bucket, sum(n)::BIGINT AS cnt
  FROM bucketed GROUP BY d, bucket),
est AS (
  SELECT b.user_id, min(b.n)::BIGINT AS n_exact, min(s.cnt)::BIGINT AS cms_est
  FROM bucketed b JOIN sketch s ON b.d = s.d AND b.bucket = s.bucket
  GROUP BY b.user_id)
SELECT user_id, n_exact, cms_est, cms_est - n_exact AS overcount
FROM est
ORDER BY n_exact DESC, user_id
LIMIT $TopK""",

    "agg_cms_join_size" -> s"""WITH per_e AS (
  SELECT user_id AS k, count(*)::BIGINT AS n FROM events GROUP BY user_id),
per_o AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS n FROM orders GROUP BY o_custkey),
grid_e AS (
  SELECT d.d, ${joinBucketSql("d.d")} AS bucket, sum(n)::BIGINT AS ce
  FROM per_e, (SELECT unnest(range(0, $CmsD)) AS d) d
  GROUP BY d.d, bucket),
grid_o AS (
  SELECT d.d, ${joinBucketSql("d.d")} AS bucket, sum(n)::BIGINT AS co
  FROM per_o, (SELECT unnest(range(0, $CmsD)) AS d) d
  GROUP BY d.d, bucket),
est AS (
  SELECT min(row_est)::BIGINT AS cms_join_size
  FROM (SELECT e.d, sum(e.ce * o.co)::BIGINT AS row_est
        FROM grid_e e JOIN grid_o o ON e.d = o.d AND e.bucket = o.bucket
        GROUP BY e.d)),
exact AS (
  SELECT coalesce(sum(e.n * o.n), 0)::BIGINT AS exact_join_size
  FROM per_e e JOIN per_o o ON e.k = o.k)
SELECT exact_join_size, cms_join_size,
       cms_join_size - exact_join_size AS overcount
FROM exact, est""")

  private def joinBucketSql(d: String): String =
    s"(${Md5Hash.h32Sql(s"'cmsj' || $d::VARCHAR || ':' || k::VARCHAR")})" +
      s" % $CmsW"
}
