package graft.analytics

import graft.Tables
import graft.functions.{GraftFunctions, Md5Hash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic HyperLogLog (Flajolet et al. 2007, public literature) from
  * the md5 h32 base — completing the CHECKABLE sketch family: KMV
  * (cardinality by order statistic), CMS (frequency), Bloom (membership),
  * and now HLL (cardinality by register maxima). `agg_hll_distinct` keeps
  * Spark's built-in `approx_count_distinct` for the contract check; here
  * every register and the final estimate reproduce bit-for-bit in DuckDB.
  *
  * Why the float estimate still hash-compares: each register term is
  * 2^-r — an exact power of two — and the 64-term indicator sum Z stays a
  * multiple of 2^-27 bounded by 64, so EVERY intermediate sum is exactly
  * representable and the accumulation is order-independent by exactness,
  * not by luck. (The one inexact op is the final alpha·m²/Z division —
  * a single IEEE op, identical on both engines.)
  *
  * Register maxima are MAX-aggregates (commutative, idempotent — the same
  * reason HLL sketches merge freely across partitions/days at 100 TB);
  * the register table is m rows per group, so everything after the one
  * corpus aggregate is spine-sized. The standard small-range linear-
  * counting correction needs ln() — not correctly rounded on the JVM, so
  * deliberately omitted; test corpora run at n ≫ m where the raw
  * estimator is the right branch anyway.
  */
object HllSketch extends graft.QueryModule {

  /** Registers (m = 2^6). */
  val HllM = 64

  /** Bits left in a 32-bit hash after the 6 bucket bits → rho ∈ [1, 27]. */
  val RhoMax = 27

  /** alpha_64 · m² — ONE Scala double interpolated into both engines. */
  val HllAlphaM2: Double = 0.709 * HllM * HllM

  /** Per-event-type distinct-user estimate beside its exact twin. */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val hashed = ev.select($"event_type",
      Md5Hash.h32(concat(lit("hll:"), $"user_id".cast("string"))).as("hv"))
      .select($"event_type", pmod($"hv", lit(HllM)).as("bucket"),
        expr(s"hv div $HllM").as("w"))
    val regs = hashed
      .withColumn("rho",
        when($"w" === 0, RhoMax)
          .otherwise(lit(RhoMax) - length(bin($"w"))))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("r"))
    val spine = ev.select($"event_type").distinct()
      .crossJoin(spark.range(HllM).select($"id".as("bucket")))
    val z = spine.join(regs, Seq("event_type", "bucket"), "left")
      .withColumn("r", coalesce($"r", lit(0)))
      .groupBy($"event_type")
      .agg(sum(expr("1.0 / cast(shiftleft(1L, cast(r as int)) as double)"))
        .as("z"),
        count(when($"r" === 0, 1)).as("n_empty"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    exact.join(z, "event_type")
      .select($"event_type", $"n_exact", $"n_empty",
        GraftFunctions.round2(lit(HllAlphaM2) / $"z").as("hll_estimate"),
        GraftFunctions.round2(
          (lit(HllAlphaM2) / $"z" - $"n_exact") * lit(100.0) / $"n_exact")
          .as("err_pct"))
      .orderBy($"event_type")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hll_registers" -> (hllRegisters _))

  val oracle: Map[String, String] = Map(
    "agg_hll_registers" -> s"""WITH h AS (
  SELECT event_type,
         (${Md5Hash.h32Sql("'hll:' || user_id::VARCHAR")}) AS hv
  FROM events),
b AS (
  SELECT event_type, hv % $HllM AS bucket, hv // $HllM AS w FROM h),
regs AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN $RhoMax
                  ELSE $RhoMax - length(printf('%b', w)) END) AS r
  FROM b GROUP BY 1, 2),
spine AS (
  SELECT DISTINCT e.event_type, bk.bucket
  FROM events e, (SELECT unnest(range(0, $HllM)) AS bucket) bk),
z AS (
  SELECT s.event_type,
         sum(1.0 / (1::BIGINT << coalesce(r.r, 0)::INT)) AS z,
         count(CASE WHEN coalesce(r.r, 0) = 0 THEN 1 END)::BIGINT AS n_empty
  FROM spine s
  LEFT JOIN regs r ON s.event_type = r.event_type AND s.bucket = r.bucket
  GROUP BY 1),
exact AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
  FROM events GROUP BY 1)
SELECT e.event_type, e.n_exact, z.n_empty,
       floor(($HllAlphaM2 / z.z) * 100 + 0.5) / 100.0 AS hll_estimate,
       floor((($HllAlphaM2 / z.z - e.n_exact) * 100.0 / e.n_exact) * 100
             + 0.5) / 100.0 AS err_pct
FROM exact e JOIN z ON e.event_type = z.event_type
ORDER BY e.event_type""")
}
