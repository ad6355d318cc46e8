package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructType}

/** Semi-structured JSON extraction — the capability that turns an event
  * stream's opaque `props` payload into relational columns without a
  * pre-declared schema migration. Three shapes, in increasing dynamism:
  *
  *  - typed path extraction (`from_json` with an explicit schema): the
  *    hot path — one codegen'd parse per row, the extracted field is a
  *    first-class column Catalyst can prune/push/aggregate;
  *  - key-inventory profiling (parse to MAP<STRING,STRING>): answers
  *    "what keys exist, how often, and which parse as numbers" — the
  *    query you run BEFORE declaring the typed schema above;
  *  - full flatten to an (event_id, key, value) relation: the
  *    semi-structured → relational bridge for downstream joins.
  *
  * All three parse once per row map-side and aggregate on extracted
  * columns, so they scale exactly like any other keyed rollup: no
  * driver-side JSON handling, no per-key re-parse (the map explode reuses
  * one parsed map), and malformed documents degrade to NULL (PERMISSIVE)
  * rather than failing the scan — accounted in the `missing` band instead
  * of dropped silently. Numeric statistics ride exact int64 (`try_cast`
  * to BIGINT) so no float sum crosses a shuffle.
  */
object JsonOps extends graft.QueryModule {

  /** Typed-path rollup: extract `$.k` as BIGINT, band it by tens, and
    * roll up event counts + exact cents revenue per (event_type, band).
    * Band -1 collects rows whose props is NULL/malformed/missing `k` —
    * the quarantine-visibility convention (nothing silently dropped).
    */
  def jsonBandRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        from_json($"props", StructType.fromDDL("k BIGINT")).getField("k").as("k"),
        expr("CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .withColumn("k_band",
        coalesce(floor($"k" / lit(10.0)).cast("bigint"), lit(-1L)))
      .groupBy($"event_type", $"k_band")
      .agg(count(lit(1)).as("n_events"),
        min($"k").as("k_min"),
        max($"k").as("k_max"),
        sum($"cents").as("cents"))
      .select($"event_type", $"k_band", $"n_events", $"k_min", $"k_max",
        ($"cents".cast("double") / 100).as("total_value"))
      .orderBy($"event_type", $"k_band")
  }

  /** VARIANT-typed extraction (Spark 4's semi-structured type): parse
    * `props` once into the binary VARIANT encoding (`try_parse_json` —
    * malformed/NULL degrade to NULL, never fail the scan), then typed-path
    * reads via `variant_get`. Where [[jsonBandRollup]]'s `from_json` needs
    * the schema declared up front, VARIANT keeps the full document in a
    * shredding-friendly binary form: one parse at ingest, every later path
    * read is a cheap binary traversal, and engines can push column
    * shredding into storage (the Parquet variant spec) — the 100 TB story
    * for "keep the raw payload AND query it like columns". The rollup per
    * event_type carries presence count and the exact int64 envelope of
    * `$.k`, hash-checked against DuckDB's JSON path reads.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        coalesce($"event_type", lit("(null)")).as("event_type"),
        // try_variant_get, not variant_get: a type-mismatched $.k (e.g. an
        // array) must degrade to NULL like the oracle's TRY_CAST, never
        // fail the scan. Residual cross-engine caveat, documented not
        // hidden: a STRING-numeric k ("5") casts in Spark but nulls in
        // DuckDB's TRY_CAST of the quoted extract — the corpus carries
        // integer k only, and either engine change would flip the hash.
        expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        count($"k").as("n_with_k"),
        min($"k").as("k_min"),
        max($"k").as("k_max"),
        sum($"k").as("k_sum"))
      .orderBy($"event_type")
  }

  /** Key inventory over a MAP-parsed corpus: per key, how many events
    * carry it, what share of the corpus that is, how many of its values
    * parse as integers, and the numeric envelope (min/max/avg) over the
    * ones that do. The schema-discovery query. */
  def jsonKeyProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val kv = events
      .select($"event_id",
        explode(from_json($"props", MapType(StringType, StringType))))
      .withColumn("num", expr("try_cast(value AS BIGINT)"))
    kv.groupBy($"key")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"num".isNotNull, 1L).otherwise(0L)).as("n_numeric"),
        min($"num").as("num_min"),
        max($"num").as("num_max"),
        sum(when($"num".isNotNull, $"num").otherwise(lit(0L))).as("s"))
      .crossJoin(broadcast(events.agg(count(lit(1)).as("n_total"))))
      .select($"key", $"n_events",
        ($"n_events".cast("double") / $"n_total").as("share"),
        $"n_numeric", $"num_min", $"num_max",
        ($"s".cast("double") / $"n_numeric").as("num_avg"))
      .orderBy($"key")
  }

  /** Semi-structured → relational flatten: one row per (event, key),
    * string value plus its integer reading where it has one. Downstream
    * joins treat this exactly like any tall keyed fact. */
  def jsonFlatten(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"props".isNotNull)
      .select($"event_id",
        explode(from_json($"props", MapType(StringType, StringType))))
      .select($"event_id", $"key", $"value".as("value_str"),
        expr("try_cast(value AS BIGINT)").as("value_num"))
      .orderBy($"event_id", $"key")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_json_band_rollup" -> (jsonBandRollup _),
    "etl_json_key_profile" -> (jsonKeyProfile _),
    "etl_json_flatten" -> (jsonFlatten _),
    "etl_variant_extract" -> (variantExtract _))

  val oracle: Map[String, String] = Map(
    "etl_variant_extract" -> """WITH ext AS (
  SELECT coalesce(event_type, '(null)') AS event_type,
         TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       count(*)::BIGINT AS n_events,
       count(k)::BIGINT AS n_with_k,
       min(k)::BIGINT AS k_min,
       max(k)::BIGINT AS k_max,
       sum(k)::BIGINT AS k_sum
FROM ext GROUP BY event_type
ORDER BY event_type""",

    "etl_json_band_rollup" -> """WITH ext AS (
  SELECT event_type,
         TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         CAST(floor(coalesce(value, 0) * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT event_type,
       coalesce(CAST(floor(k / 10.0) AS BIGINT), -1)::BIGINT AS k_band,
       count(*)::BIGINT AS n_events,
       min(k)::BIGINT AS k_min,
       max(k)::BIGINT AS k_max,
       sum(cents)::BIGINT::DOUBLE / 100 AS total_value
FROM ext
GROUP BY 1, 2
ORDER BY event_type, k_band""",

    "etl_json_key_profile" -> """WITH kv AS (
  SELECT event_id,
         unnest(json_keys(props)) AS key
  FROM events WHERE props IS NOT NULL AND json_valid(props)),
typed AS (
  SELECT e.event_id, kv.key,
         TRY_CAST(json_extract_string(e.props, '$.' || kv.key) AS BIGINT)
           AS num
  FROM kv JOIN events e ON e.event_id = kv.event_id),
tot AS (SELECT count(*)::BIGINT AS n_total FROM events)
SELECT key,
       count(*)::BIGINT AS n_events,
       count(*)::BIGINT::DOUBLE / t.n_total AS share,
       sum(CASE WHEN num IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_numeric,
       min(num)::BIGINT AS num_min,
       max(num)::BIGINT AS num_max,
       sum(CASE WHEN num IS NOT NULL THEN num ELSE 0 END)::BIGINT::DOUBLE
         / sum(CASE WHEN num IS NOT NULL THEN 1 ELSE 0 END) AS num_avg
FROM typed CROSS JOIN tot t
GROUP BY key, t.n_total
ORDER BY key""",

    "etl_json_flatten" -> """WITH kv AS (
  SELECT event_id, unnest(json_keys(props)) AS key
  FROM events WHERE props IS NOT NULL AND json_valid(props))
SELECT e.event_id, kv.key,
       json_extract_string(e.props, '$.' || kv.key) AS value_str,
       TRY_CAST(json_extract_string(e.props, '$.' || kv.key) AS BIGINT)
         AS value_num
FROM kv JOIN events e ON e.event_id = kv.event_id
ORDER BY e.event_id, kv.key""")
}
