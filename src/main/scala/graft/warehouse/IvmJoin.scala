package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a JOIN view — the bilinear delta rule that
  * [[IncrementalAgg]]'s single-table entry deliberately left out: for
  * `V = γ(A ⋈ B)`, an insert batch on BOTH sides maintains the view with
  *
  *   ΔV = γ(ΔA ⋈ B) + γ(A ⋈ ΔB) + γ(ΔA ⋈ ΔB)
  *
  * (new orders joining existing customers, existing orders joining
  * late-arriving customers, and new orders of new customers — forget the
  * cross term and late customers' new orders vanish, the classic IVM bug).
  * The maintained view here is revenue by customer nation; the change
  * feeds are carved deterministically from the tables (`o_orderkey %
  * [[NewOrderMod]] = 0` orders and `c_custkey % [[NewCustMod]] = 0`
  * customers arrive late). Each term is aggregated to the view's grain
  * BEFORE merging, so the merge is a partial-aggregate union — the
  * commutative/associative shape that map-side combines.
  *
  * The DuckDB twin recomputes each term independently AND the totals
  * directly from the final state `(A+ΔA) ⋈ (B+ΔB)` — hash-matching both
  * proves the decomposition is exhaustive and overlap-free, not just that
  * the totals happen to agree. Money merges in DECIMAL (exact,
  * order-free), DOUBLE only at the output boundary.
  *
  * Scale shape: the base-side terms join a DELTA (one batch's landings)
  * against a keyed table — broadcast when the batch is small, one keyed
  * shuffle otherwise; `γ(A ⋈ ΔB)` is the expensive direction at 100 TB
  * (full fact vs. new dim rows) and is exactly the case where the fact's
  * bucketing on custkey ([[Bucketing]]) makes it a co-located join. The
  * view itself is nations-small; the recompute this replaces is a full
  * fact scan.
  */
object IvmJoin extends graft.QueryModule {

  /** Late-order carve-out modulus. One value, both engines. */
  val NewOrderMod = 10

  /** Late-customer carve-out modulus. One value, both engines. */
  val NewCustMod = 25

  def ivmJoinView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey".as("custkey"),
      $"o_totalprice".cast("decimal(18,2)").as("price"),
      (pmod($"o_orderkey", lit(NewOrderMod)) === 0).as("d_ord"))
    val c = Tables.customer(spark, dir).select(
      $"c_custkey".as("custkey"), $"c_nationkey".as("nationkey"),
      (pmod($"c_custkey", lit(NewCustMod)) === 0).as("d_cust"))
    def term(ordDelta: Boolean, custDelta: Boolean, tag: String) =
      o.filter($"d_ord" === ordDelta)
        .join(c.filter($"d_cust" === custDelta), "custkey")
        .groupBy($"nationkey")
        .agg(count(lit(1)).as(s"${tag}_n"), sum($"price").as(s"${tag}_rev"))
    val base = term(ordDelta = false, custDelta = false, "base")
    val dAB = term(ordDelta = true, custDelta = false, "dab")
    val adB = term(ordDelta = false, custDelta = true, "adb")
    val dAdB = term(ordDelta = true, custDelta = true, "dadb")
    base.join(dAB, Seq("nationkey"), "full_outer")
      .join(adB, Seq("nationkey"), "full_outer")
      .join(dAdB, Seq("nationkey"), "full_outer")
      .select($"nationkey",
        coalesce($"base_n", lit(0L)).as("base_n"),
        coalesce($"dab_n", lit(0L)).as("new_order_n"),
        coalesce($"adb_n", lit(0L)).as("new_cust_n"),
        coalesce($"dadb_n", lit(0L)).as("both_new_n"),
        (coalesce($"base_n", lit(0L)) + coalesce($"dab_n", lit(0L))
          + coalesce($"adb_n", lit(0L)) + coalesce($"dadb_n", lit(0L)))
          .as("n_orders"),
        (coalesce($"base_rev", lit(0).cast("decimal(28,2)"))
          + coalesce($"dab_rev", lit(0).cast("decimal(28,2)"))
          + coalesce($"adb_rev", lit(0).cast("decimal(28,2)"))
          + coalesce($"dadb_rev", lit(0).cast("decimal(28,2)")))
          .cast("double").as("revenue"))
      .filter($"n_orders" > 0)
      .orderBy($"nationkey")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_ivm_join_view" -> (ivmJoinView _))

  /** Ground truth: each term recomputed independently, totals recomputed
    * DIRECTLY from the final joined state — the decomposition must tile it
    * exactly.
    */
  val oracle: Map[String, String] = Map(
    "wh_ivm_join_view" -> s"""WITH o AS (
  SELECT o_custkey AS custkey, o_totalprice::DECIMAL(18,2) AS price,
         (o_orderkey % $NewOrderMod = 0) AS d_ord
  FROM orders),
c AS (
  SELECT c_custkey AS custkey, c_nationkey AS nationkey,
         (c_custkey % $NewCustMod = 0) AS d_cust
  FROM customer),
joined AS (
  SELECT nationkey, price, d_ord, d_cust
  FROM o JOIN c USING (custkey)),
terms AS (
  SELECT nationkey,
         sum(CASE WHEN NOT d_ord AND NOT d_cust THEN 1 ELSE 0 END)::BIGINT
           AS base_n,
         sum(CASE WHEN d_ord AND NOT d_cust THEN 1 ELSE 0 END)::BIGINT
           AS new_order_n,
         sum(CASE WHEN NOT d_ord AND d_cust THEN 1 ELSE 0 END)::BIGINT
           AS new_cust_n,
         sum(CASE WHEN d_ord AND d_cust THEN 1 ELSE 0 END)::BIGINT
           AS both_new_n,
         count(*)::BIGINT AS n_orders,
         sum(price)::DECIMAL(28,2) AS revenue
  FROM joined GROUP BY nationkey)
SELECT nationkey, base_n, new_order_n, new_cust_n, both_new_n,
       n_orders, revenue::DOUBLE AS revenue
FROM terms WHERE n_orders > 0
ORDER BY nationkey""")
}
