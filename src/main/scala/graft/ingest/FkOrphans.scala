package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Referential-integrity audit — the warehouse-side restatement of the
  * reference's FK constraints (`/root/reference/sql/01_schema.sql:34,51,77,90`
  * declares `REFERENCES ... ON DELETE CASCADE`; a parquet lake has no
  * enforcing engine, so integrity becomes a MEASURED property): for every
  * foreign-key edge of the star, how many child rows point at a parent that
  * doesn't exist. Zero is the contract; a non-zero row names the edge whose
  * load broke, which is the first question after any partial backfill,
  * late-arriving-dim window ([[EtlExtras]]), or GDPR purge
  * ([[Ingest.forgetUsers]] deletes parents — THIS is the audit that proves
  * the cascade was applied).
  *
  * Plan: each edge is a key-only `child LEFT JOIN parent` whose null
  * parent keys are counted in the same aggregate (one pass per edge; an
  * anti join would need a second pass for the total). Only the two key
  * columns cross the shuffle, and Catalyst broadcasts the small parent
  * key sets. One summary row per edge; the counts are exact longs and the
  * rate a single division.
  *
  * Scale: anti joins shuffle each child table once on its FK (or broadcast
  * the parent key set when it fits — nation/region always, customer/part
  * usually after key-only projection); edges are independent, so the audit
  * parallelizes per edge and a scheduler can run only the edges a load
  * touched.
  */
object FkOrphans extends graft.QueryModule {

  /** FK edges audited: (edge name, child rows loader, parent loader,
    * child key, parent key).
    */
  private def edges(spark: SparkSession, dir: String)
      : Seq[(String, DataFrame, DataFrame, String, String)] = Seq(
    ("lineitem->orders", Tables.lineitem(spark, dir),
      Tables.orders(spark, dir), "l_orderkey", "o_orderkey"),
    ("lineitem->part", Tables.lineitem(spark, dir),
      Tables.part(spark, dir), "l_partkey", "p_partkey"),
    ("lineitem->supplier", Tables.lineitem(spark, dir),
      Tables.supplier(spark, dir), "l_suppkey", "s_suppkey"),
    ("orders->customer", Tables.orders(spark, dir),
      Tables.customer(spark, dir), "o_custkey", "c_custkey"),
    ("customer->nation", Tables.customer(spark, dir),
      Tables.nation(spark, dir), "c_nationkey", "n_nationkey"),
    ("supplier->nation", Tables.supplier(spark, dir),
      Tables.nation(spark, dir), "s_suppkey_nation", "n_nationkey"),
    ("nation->region", Tables.nation(spark, dir),
      Tables.region(spark, dir), "n_regionkey", "r_regionkey"))

  def orphanAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    edges(spark, dir).map { case (name, child, parent, ck0, pk) =>
      // supplier->nation audits s_nationkey; the tuple carries a renamed
      // marker so the two nation edges stay distinct rows
      val ck = if (ck0 == "s_suppkey_nation") "s_nationkey" else ck0
      child.select(col(ck).as("k"))
        .join(parent.select(col(pk).as("pk")), $"k" === $"pk", "left")
        .agg(
          count(lit(1)).as("n_child_rows"),
          sum(when($"pk".isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), $"n_child_rows", $"n_orphans")
    }.reduce(_ unionByName _)
      .select($"fk_edge", $"n_child_rows", $"n_orphans",
        round($"n_orphans" * lit(100.0) / $"n_child_rows", 4)
          .as("orphan_pct"))
      .orderBy($"fk_edge")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_fk_orphans" -> (orphanAudit _))

  val oracle: Map[String, String] = Map(
    "etl_fk_orphans" -> """WITH audit AS (
  SELECT 'lineitem->orders' AS fk_edge, count(*)::BIGINT AS n_child_rows,
         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'lineitem->part', count(*)::BIGINT,
         sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
  UNION ALL
  SELECT 'lineitem->supplier', count(*)::BIGINT,
         sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
  UNION ALL
  SELECT 'orders->customer', count(*)::BIGINT,
         sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT 'customer->nation', count(*)::BIGINT,
         sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT 'supplier->nation', count(*)::BIGINT,
         sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
  UNION ALL
  SELECT 'nation->region', count(*)::BIGINT,
         sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey)
SELECT fk_edge, n_child_rows, n_orphans,
       round(n_orphans * 100.0 / n_child_rows, 4) AS orphan_pct
FROM audit ORDER BY fk_edge""")
}
