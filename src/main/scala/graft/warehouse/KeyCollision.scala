package graft.warehouse

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Surrogate-key collision audit — the birthday-bound check a warehouse
  * runs before trusting hash-derived surrogate keys at scale: a 32-bit
  * key space expects n(n−1)/2³³ collisions (≈ 42 at 600 k rows — the
  * silent fact-row merger nobody notices until totals drift); 62 bits
  * pushes the same corpus to ~10⁻⁸. The audit hashes the lineitem
  * composite business key at both widths and emits observed collisions
  * (n − distinct) beside the birthday expectation, so "are our keys wide
  * enough" is a measured number with its theoretical twin — at test scale
  * the 32-bit row already shows non-zero expectation.
  *
  * The 62-bit key is two INDEPENDENT md5 h32 draws packed as
  * a·2³¹ + b — staying inside the md5-parity base (both engines
  * reproduce it) instead of parsing 16 hex chars, whose high-nibble
  * shift overflows signed int64.
  *
  * Scale: SPLIT aggregates — one single-distinct aggregate per key width,
  * cross-joined as 1-row results (the `agg_approx_stats` recipe). The
  * natural `agg(countDistinct(k32), countDistinct(k62))` plans through
  * RewriteDistinctAggregates' Expand: every input row replicated once per
  * distinct group — a ×3 input blowup (1.8M expand rows / 14.7 MB shuffle
  * at sf0.1) that at 100 TB triples the audit's shuffle for no reason the
  * split doesn't serve. Two one-column scans beat one tripled shuffle at
  * any scale where the audit matters.
  */
object KeyCollision extends graft.QueryModule {

  def keyCollision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread the scan BEFORE the key concat: 3 md5 draws per row
    // otherwise hash the whole table in the lineitem file's single
    // row-group task, and spreading the raw (int, int) projection keeps
    // the exchange narrow (Tables.spreadNarrowScan — exchange only for
    // inputs too small to split)
    def keyed = Tables.spreadNarrowScan(Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_linenumber"))
      .select(concat($"l_orderkey".cast("string"), lit(":"),
        $"l_linenumber".cast("string")).as("bk"))
    val a = keyed.select(
        Md5Hash.h32(concat(lit("k32:"), $"bk")).as("k32"))
      .agg(count(lit(1)).as("n_keys"), countDistinct($"k32").as("d32"))
    val b = keyed.select(
        (Md5Hash.h32(concat(lit("ka:"), $"bk")) * lit(2147483648L) +
          Md5Hash.h32(concat(lit("kb:"), $"bk"))).as("k62"))
      .agg(countDistinct($"k62").as("d62"))
    a.crossJoin(b)
      .selectExpr(
        """stack(2,
          |  32, n_keys, d32, n_keys - d32,
          |  CAST(n_keys AS DOUBLE) * (n_keys - 1) / 2 / 4294967296,
          |  62, n_keys, d62, n_keys - d62,
          |  CAST(n_keys AS DOUBLE) * (n_keys - 1) / 2 / 4611686018427387904
          |) AS (key_bits, n_keys, n_distinct, collisions, expected_collisions)"""
          .stripMargin)
      .selectExpr("CAST(key_bits AS INT) AS key_bits", "n_keys",
        "n_distinct", "collisions", "expected_collisions")
      .orderBy($"key_bits")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_key_collision_audit" -> (keyCollision _))

  val oracle: Map[String, String] = Map(
    "wh_key_collision_audit" -> s"""WITH keyed AS (
  SELECT ${Md5Hash.h32Sql("'k32:' || bk")} AS k32,
         ${Md5Hash.h32Sql("'ka:' || bk")} * 2147483648
           + ${Md5Hash.h32Sql("'kb:' || bk")} AS k62
  FROM (SELECT l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR AS bk
        FROM lineitem)),
agg AS (
  SELECT count(*)::BIGINT AS n_keys,
         count(DISTINCT k32)::BIGINT AS d32,
         count(DISTINCT k62)::BIGINT AS d62
  FROM keyed)
SELECT 32 AS key_bits, n_keys, d32 AS n_distinct,
       (n_keys - d32)::BIGINT AS collisions,
       CAST(n_keys AS DOUBLE) * (n_keys - 1) / 2 / 4294967296
         AS expected_collisions
FROM agg
UNION ALL
SELECT 62, n_keys, d62, (n_keys - d62)::BIGINT,
       CAST(n_keys AS DOUBLE) * (n_keys - 1) / 2 / 4611686018427387904
FROM agg
ORDER BY key_bits""")
}
