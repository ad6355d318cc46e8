package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UniMax-style epoch-capped budget allocation (Chung et al., "UniMax:
  * Fairer and More Effective Language Sampling for Large-Scale Multilingual
  * Pretraining", ICLR 2023) — the corpus-mixing scheduler that replaces
  * temperature sampling when repeating a small domain too often hurts:
  * given a total training budget `B` and a per-domain repeat cap of
  * [[EpochCap]] epochs, allocate each domain `min(capacity_i, θ)` where
  * `capacity_i = n_i · EpochCap` and the water level θ is chosen so the
  * allocations exhaust the budget — equal-share waterfilling with caps.
  *
  * The greedy in the paper (ascending by capacity, each domain takes
  * `min(capacity, remaining/remaining_domains)`) is EXACTLY closed-form
  * waterfilling, which makes it one window pass instead of a driver loop:
  * sort domains ascending by capacity; domain i saturates iff
  * `capacity_i · (G−i+1) ≤ B − prefix_capacities` — an ALL-INTEGER test,
  * so the saturated set is decided exactly; θ is then ONE division,
  * `(B − Σ_saturated capacity) / |unsaturated|`, identical IEEE in both
  * engines. (Proof of the prefix property: capacities are sorted, so if a
  * domain fails to saturate, every later one fails too.)
  *
  * Domains here are (lang, source) cells of the documents corpus —
  * [[DomainCount]]-bounded (≈100), so the unpartitioned windows order a
  * catalog-sized table, never corpus rows; the per-domain sizes reduce via
  * one map-side-combined count. At 100 TB only the count scan grows.
  */
object UniMaxMix extends graft.QueryModule {

  /** Max epochs (full repeats) any domain may contribute. One value, both
    * engines.
    */
  val EpochCap = 4

  /** Budget numerator/denominator: B = 2 × total corpus docs (half the
    * Σcapacity ceiling, so small domains saturate and large ones split the
    * water level — the regime UniMax exists for).
    */
  val BudgetMul = 2

  def unimaxEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val caps = Tables.documents(spark, dir)
      .groupBy(concat($"lang", lit("/"), $"source").as("domain"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("cap", $"n_docs" * lit(EpochCap.toLong))
    // windows below order the DOMAIN table (≈100 rows — bounded by the
    // lang×source catalog, a plan constant at any corpus size)
    val byCap = Window.orderBy($"cap", $"domain")
    val ledger = caps
      .withColumn("g", count(lit(1)).over(
        byCap.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("budget",
        sum($"n_docs").over(
          byCap.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          * lit(BudgetMul.toLong))
      .withColumn("i", row_number().over(byCap))
      .withColumn("p_prev", coalesce(
        sum($"cap").over(byCap.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("saturated",
        ($"cap" * ($"g" - $"i" + 1L)) <= ($"budget" - $"p_prev"))
    val water = ledger.agg(
      sum(when($"saturated", $"cap").otherwise(0L)).as("p_sat"),
      sum(when($"saturated", 0L).otherwise(1L)).as("n_unsat"),
      max($"budget").as("b"))
    ledger.crossJoin(broadcast(water))
      .select($"domain", $"n_docs", $"cap",
        $"saturated".cast("int").as("saturated"),
        when($"saturated", $"cap".cast("double"))
          .otherwise(($"b" - $"p_sat") * lit(1.0) / $"n_unsat")
          .as("allocated"))
      .withColumn("epochs", $"allocated" / $"n_docs")
      .orderBy($"domain")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_unimax_epochs" -> (unimaxEpochs _))

  val oracle: Map[String, String] = Map(
    "curate_unimax_epochs" -> s"""WITH caps AS (
  SELECT lang || '/' || source AS domain,
         count(*)::BIGINT AS n_docs,
         count(*)::BIGINT * $EpochCap AS cap
  FROM documents GROUP BY 1),
ledger AS (
  SELECT domain, n_docs, cap,
         count(*) OVER ()::BIGINT AS g,
         (sum(n_docs) OVER ())::BIGINT * $BudgetMul AS budget,
         ROW_NUMBER() OVER (ORDER BY cap, domain)::BIGINT AS i,
         coalesce(sum(cap) OVER (ORDER BY cap, domain
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS p_prev
  FROM caps),
sat AS (
  SELECT *, (cap * (g - i + 1)) <= (budget - p_prev) AS saturated
  FROM ledger),
water AS (
  SELECT sum(CASE WHEN saturated THEN cap ELSE 0 END)::BIGINT AS p_sat,
         sum(CASE WHEN saturated THEN 0 ELSE 1 END)::BIGINT AS n_unsat,
         max(budget)::BIGINT AS b
  FROM sat)
SELECT domain, n_docs, cap,
       CASE WHEN saturated THEN 1 ELSE 0 END::INT AS saturated,
       CASE WHEN saturated THEN CAST(cap AS DOUBLE)
            ELSE (b - p_sat) * 1.0 / n_unsat END AS allocated,
       CASE WHEN saturated THEN CAST(cap AS DOUBLE)
            ELSE (b - p_sat) * 1.0 / n_unsat END / n_docs AS epochs
FROM sat, water
ORDER BY domain""")
}
