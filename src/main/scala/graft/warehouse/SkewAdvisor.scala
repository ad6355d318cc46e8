package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-driven skew planning — the MEASUREMENT half of the salted-join
  * story ([[graft.functions.SkewJoin]] is the execution half).
  *
  * A shuffle join's wall-clock is its hottest reducer. Before choosing a
  * mitigation (salt factor, AQE skew thresholds, broadcast) you need the
  * key-frequency profile of the join column — at 100 TB that profile is
  * itself a first-class query you run BEFORE the expensive join, exactly
  * like the reference inspects row counts before sizing batches
  * (`src/etl_pipeline.py:205-234`). This advisor reports, per hot key:
  *
  *  - `key_rows`: exact frequency (one keyed COUNT — map-side combined);
  *  - `share_pct`: its fraction of the feed (single division, ×100);
  *  - `salt`: the recommended salt factor `ceil(key_rows / TargetRows)` —
  *    the sub-task count that caps every salted partition at roughly
  *    [[TargetRows]] rows (integer-exact ceiling division in BOTH
  *    engines: Spark `DIV`, DuckDB `//`).
  *
  * A key is "hot" when it exceeds [[HotFactor]]× its fair share
  * (n_rows / n_keys) — the relative test detects skew at ANY scale factor,
  * where an absolute row threshold would silently go quiet at small SF and
  * fire on everything at large SF. The test is DIVISION-based in double
  * (`key_rows > HotFactor * n_rows / n_keys`): the earlier product form
  * `key_rows * n_keys` multiplies two row-scale longs and overflows int64
  * at 100 TB cardinalities (key_rows ~1e12 × n_keys ~1e9); the quotient
  * form never exceeds n_rows, and IEEE double `*`/`/` are bit-identical
  * across engines (parity rule).
  *
  * Everything is one pass over the key column: COUNT per key, a broadcast
  * 1-row margin for totals, and a filter — no join, no window, no sort
  * beyond the final (tiny) hot-key report ordering.
  *
  * The profiled key is `documents.lang` — a natural-language corpus is the
  * canonically skewed feed (English dominates every web-scale crawl), the
  * 100 TB shape of the reference's modality column (`sql/01_schema.sql:110`
  * — one modality is most of the table).
  */
object SkewAdvisor extends graft.QueryModule {

  /** Target rows per salted sub-task — ONE definition in both engines. */
  val TargetRows = 100L

  /** Hot iff key_rows > HotFactor × fair share. 1.5× flags the dominant
    * key of a web-crawl-shaped feed (English ~40% of a 5-language corpus,
    * fair share 20%) at every scale factor; 2× sat exactly on the sf0.001
    * boundary (38.6% vs a 40% cut) and went quiet there.
    */
  val HotFactor = 1.5

  /** Skew profile of the `documents.lang` join key. */
  def skewAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("key_rows"))
    val totals = freq.agg(sum($"key_rows").as("n_rows"),
      count(lit(1)).as("n_keys"))
    freq.crossJoin(broadcast(totals))
      // overflow-safe hot test: quotient stays ≤ n_rows where the product
      // form key_rows*n_keys wraps int64 at warehouse scale
      .filter($"key_rows".cast("double") >
        lit(HotFactor) * $"n_rows".cast("double") / $"n_keys")
      .select($"lang", $"key_rows",
        ($"key_rows".cast("double") * 100 / $"n_rows").as("share_pct"),
        // integer-exact ceiling division (Spark DIV ↔ DuckDB //), immune
        // to the 2^53 double-truncation boundary
        expr(s"(key_rows + ${TargetRows - 1}) DIV $TargetRows").as("salt"))
      .orderBy($"key_rows".desc, $"lang")
  }

  /** The advised-join dimension: one row per language (tiny by nature —
    * it is the lang universe). Deliberately pushed down the SHUFFLE path
    * in [[advisedSkewJoin]] to demonstrate the salted plan; a real 5-row
    * dim would broadcast.
    */
  private def langDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("en", 1.0), ("fr", 1.2), ("es", 1.1), ("de", 1.3), ("zh", 2.0))
      .toDF("lang", "char_weight")
  }

  /** Measurement→execution closed loop: the salt factors used by the
    * salted join are DERIVED from the [[skewAdvisor]] profile, not a
    * hardcoded constant — per hot key its advised factor, 1 (no salting)
    * for everything else.
    *
    * Left side: each document row gets `__salt = hash(doc_id) mod factor`
    * for its key's factor; right side: each dim row is replicated once per
    * salt value of ITS key. The join key becomes (lang, __salt), so the
    * hot key's rows spread over `salt` reducers instead of one, each
    * handling ~[[TargetRows]] rows. Salting is output-invariant — the
    * result equals the plain inner join, which is exactly what the DuckDB
    * oracle checks (the equivalence contract, not a smoke test).
    *
    * The profile collect is bounded by the KEY UNIVERSE (languages), never
    * row count — the same "collect only margins" rule as the IVF
    * centroids.
    */
  def advisedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profile = skewAdvisor(spark, dir).select($"lang", $"salt")
    val docs = Tables.documents(spark, dir)
    val salted = docs
      .join(broadcast(profile), Seq("lang"), "left")
      .withColumn("__salt",
        pmod(xxhash64($"doc_id"), coalesce($"salt", lit(1L))).cast("int"))
      .drop("salt")
    val replicated = langDim(spark)
      .join(broadcast(profile), Seq("lang"), "left")
      .withColumn("__salt",
        explode(expr("sequence(0, CAST(coalesce(salt, 1) - 1 AS INT))")))
      .drop("salt")
      .hint("shuffle_hash") // deny the broadcast that would dodge the demo
    // parity rule: the char sum stays BIGINT through the shuffle (exact,
    // merge-order-free); the weight multiply happens once per group after
    salted.join(replicated, Seq("lang", "__salt"), "inner")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        max($"char_weight").as("w"))
      .select($"lang", $"n_docs",
        ($"sum_chars".cast("double") * $"w").as("weighted_chars"))
      .orderBy($"lang")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_skew_advisor" -> (skewAdvisor _),
    "join_skew_advised" -> (advisedSkewJoin _))

  val oracle: Map[String, String] = Map(
    "wh_skew_advisor" -> s"""WITH freq AS (
  SELECT lang, count(*)::BIGINT AS key_rows
  FROM documents GROUP BY 1),
tot AS (
  SELECT sum(key_rows)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys
  FROM freq)
SELECT lang, key_rows,
       key_rows::DOUBLE * 100 / n_rows AS share_pct,
       ((key_rows + ${TargetRows - 1}) // $TargetRows)::BIGINT AS salt
FROM freq CROSS JOIN tot
WHERE key_rows::DOUBLE > $HotFactor * n_rows::DOUBLE / n_keys
ORDER BY key_rows DESC, lang""",

    // the salted join is output-equivalent to the plain inner join —
    // the oracle IS the plain join (equivalence contract)
    "join_skew_advised" -> """SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT::DOUBLE * max(char_weight)::DOUBLE
         AS weighted_chars
FROM documents
JOIN (VALUES ('en', 1.0), ('fr', 1.2), ('es', 1.1), ('de', 1.3), ('zh', 2.0))
  AS dim(lang, char_weight) USING (lang)
GROUP BY lang
ORDER BY lang""")
}
