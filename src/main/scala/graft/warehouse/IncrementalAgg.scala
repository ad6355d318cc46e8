package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental view maintenance (IVM) for an aggregate matview: apply a
  * change batch to a previously-materialized monthly rollup as SIGNED
  * per-group deltas — never rescanning the base fact — and prove the merge
  * algebra by hash-comparing against a ground-truth recompute over the
  * final state.
  *
  * The maintained view is `ym → (n_orders, revenue)`. The change feed is
  * carved deterministically from the orders table: rows with
  * `o_orderkey % 20 = 0` arrive late (INSERTs), rows with `% 20 = 1` are
  * retracted (DELETEs). Inserts contribute +1/+price, deletes −1/−price;
  * groups whose maintained count reaches zero are dropped (the classic IVM
  * subtlety — a count-0 group must disappear, not linger as a zero row).
  *
  * Why this is the 100 TB shape: a nightly full recompute of a matview over
  * a petabyte fact is the single most expensive recurring job in a naive
  * warehouse; IVM costs O(|delta| + |view|) — the view is months×groups
  * small, and the delta is one day's landings. COUNT/SUM are
  * self-maintainable under insert+delete (signed sums commute and
  * associate — DECIMAL money math keeps the merge exact, so the maintained
  * view is BIT-IDENTICAL to the recompute, which is precisely what the
  * DuckDB oracle checks: it recomputes from the final state directly).
  * COUNT DISTINCT is deliberately absent: it is not self-maintainable (a
  * delete needs the remaining-multiplicity, i.e. a per-(group, key) count
  * sidecar — the same reason `mv_*` views recompute their distinct columns
  * per partition in [[MatViews]]).
  */
object IncrementalAgg extends graft.QueryModule {

  /** Modulus carving the deterministic change feed out of orders. */
  val Mod = 20

  def maintainedMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      (year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"),
      $"o_totalprice".cast("decimal(18,2)").as("price"),
      pmod($"o_orderkey", lit(Mod)).as("m"))
    // the view as it stood BEFORE the batch: late rows not yet present
    val base = o.filter($"m" =!= 0)
      .groupBy($"ym")
      .agg(count(lit(1)).as("bn"), sum($"price").as("brev"))
    // the signed change batch: +1 per insert, −1 per delete
    val delta = o.filter($"m" === 0)
      .select($"ym", lit(1L).as("sgn"), $"price")
      .unionByName(o.filter($"m" === 1)
        .select($"ym", lit(-1L).as("sgn"), $"price"))
      .groupBy($"ym")
      .agg(sum($"sgn").as("dn"), sum($"sgn" * $"price").as("drev"))
    base.join(delta, Seq("ym"), "full_outer")
      .select($"ym",
        (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
        (coalesce($"brev", lit(0).cast("decimal(28,2)"))
          + coalesce($"drev", lit(0).cast("decimal(28,2)")))
          .cast("double").as("revenue"))
      .filter($"n_orders" > 0)
      .orderBy($"ym")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_incremental_agg" -> (maintainedMonthly _))

  /** Ground truth: recompute the view directly over the FINAL state (all
    * rows except the retracted ones). The maintained view must hash-match
    * this bit-for-bit — the strongest possible check of the delta algebra.
    */
  val oracle: Map[String, String] = Map(
    "wh_incremental_agg" -> s"""SELECT
  (year(o_orderdate)::INT * 100 + month(o_orderdate)::INT) AS ym,
  count(*)::BIGINT AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderkey % $Mod <> 1
GROUP BY 1
ORDER BY 1""")
}
