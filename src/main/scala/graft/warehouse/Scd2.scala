package graft.warehouse

import graft.analytics.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type 2 merge — the dimension-versioning
  * operator every warehouse ingest eventually needs (the reference refreshes
  * `dim_patient` in place, `src/populate_warehouse.py:56-81`; an auditable
  * warehouse keeps history instead: each attribute change closes the old row
  * and appends a new version with validity dates).
  *
  * The change batch is synthesized deterministically (md5 gate — the same
  * engine-shared device as the seeded sample / mix sampler): ~4/16 of
  * patients relocate (update path) and ~1/16 arrive as new keys (insert
  * path), so one run exercises every MERGE branch.
  *
  * Merge shape, Spark-first:
  *  - ONE pass over the big dimension: left join against the change-batch
  *    KEYS (broadcast — a change batch is small by nature) tags each
  *    existing row; tagged rows close (valid_to = change date,
  *    is_current = false), untagged stay current. No second scan for the
  *    closed set.
  *  - the new-version rows come from the change batch itself, left-joined
  *    against the dimension's key column to decide version 2 (key existed)
  *    vs version 1 (fresh insert) — a keys-only lookup join.
  *  - surrogate keys are derived (`patient_id·10 + version`), NOT a
  *    sequence/`monotonically_increasing_id` — deterministic under retries
  *    and any partitioning, which is what makes the result hash-checkable
  *    and the merge idempotent at 100 TB.
  */
object Scd2 extends graft.QueryModule {

  /** Initial-load effective date (v1 rows). */
  val V1From = "1992-01-01"

  /** Effective date of the change batch. */
  val ChangeDate = "1998-06-01"

  /** Open-row sentinel (the standard SCD2 convention — current rows carry a
    * far-future valid_to rather than NULL, so BETWEEN-style as-of lookups
    * need no null branch).
    */
  val OpenEnd = "9999-12-31"

  /** Deterministic change batch over the current dimension: updates
    * (relocations) for gate digits 0-3, inserts (new keys, +10M offset —
    * far above any custkey) for gate digit f.
    */
  private def changeBatch(dim: DataFrame): DataFrame = {
    val gate = substring(
      md5(concat(lit("scd:"), col("patient_id").cast("string"))), 1, 1)
    val upd = dim.filter(gate.isin("0", "1", "2", "3"))
      .select(col("patient_id"), col("age_group"), col("sex"),
        concat(lit("RELOCATED-"), col("location")).as("location"))
    val ins = dim.filter(gate === "f")
      .select((col("patient_id") + lit(10000000L)).as("patient_id"),
        lit("Unknown").as("age_group"), col("sex"),
        lit("NEW-ARRIVAL").as("location"))
    upd.unionByName(ins)
  }

  def scd2Patient(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Warehouse.forDir(spark, dir).dimPatient
      .select($"patient_id", $"age_group", $"sex", $"location")
    val changes = changeBatch(dim)
    val chgKeys = changes.select($"patient_id").withColumn("chg", lit(true))
    // one pass over the dimension: close matched rows, keep the rest current
    val existing = dim.join(broadcast(chgKeys), Seq("patient_id"), "left")
      .select($"patient_id", $"age_group", $"sex", $"location",
        lit(1).as("version"),
        lit(V1From).cast("date").as("valid_from"),
        when($"chg", lit(ChangeDate)).otherwise(lit(OpenEnd)).cast("date")
          .as("valid_to"),
        $"chg".isNull.as("is_current"))
    // new versions: v2 where the key existed, v1 for fresh inserts
    val existedKeys = dim.select($"patient_id").withColumn("existed", lit(true))
    val newVers = changes.join(existedKeys, Seq("patient_id"), "left")
      .select($"patient_id", $"age_group", $"sex", $"location",
        when($"existed", lit(2)).otherwise(lit(1)).as("version"),
        lit(ChangeDate).cast("date").as("valid_from"),
        lit(OpenEnd).cast("date").as("valid_to"),
        lit(true).as("is_current"))
    existing.unionByName(newVers)
      .withColumn("scd_key", $"patient_id" * 10 + $"version")
      .select($"scd_key", $"patient_id", $"age_group", $"sex", $"location",
        $"version", $"valid_from", $"valid_to", $"is_current")
      .orderBy($"patient_id", $"version")
  }

  /** SCD type 3 — the PRIOR-VALUE-COLUMN variant completing the slowly-
    * changing-dimension family (SCD1 overwrite: `etl_merge_scd1`; SCD2 row
    * versioning: [[scd2Patient]]): one row per key, the tracked attribute
    * carried as (current, prior) column pair. The trade SCD3 encodes is
    * bounded history (exactly one prior value) for an unversioned join key
    * — fact queries need no as-of logic at all, which is why wide dims
    * with rarely-changing attributes ship this shape at scale. Same
    * deterministic [[changeBatch]] as SCD2, so the three strategies are
    * directly comparable on one feed; `'N/A'` is the no-history sentinel
    * (a nullable output column would be a dtype hazard cross-engine).
    * One full-outer hash join on the key — dimension-sized, broadcastable.
    */
  def scd3Patient(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Warehouse.forDir(spark, dir).dimPatient
      .select($"patient_id", $"age_group", $"sex", $"location")
    val chg = changeBatch(dim)
      .select($"patient_id", $"age_group".as("c_age"), $"sex".as("c_sex"),
        $"location".as("c_loc"))
    dim.join(chg, Seq("patient_id"), "full_outer")
      .select($"patient_id",
        coalesce($"age_group", $"c_age").as("age_group"),
        coalesce($"sex", $"c_sex").as("sex"),
        coalesce($"c_loc", $"location").as("location"),
        when($"c_loc".isNotNull && $"location".isNotNull, $"location")
          .otherwise(lit("N/A")).as("prior_location"),
        ($"c_loc".isNotNull && $"location".isNotNull).as("changed"))
      .orderBy($"patient_id")
  }

  /** Point-in-time (as-of) lookup against the versioned dimension — the
    * query SCD2 exists to serve: each encounter resolves the patient version
    * whose [valid_from, valid_to) interval contains its date. The half-open
    * intervals partition time, so every encounter matches EXACTLY one
    * version (spec-pinned). Plan shape at scale: equi hash join on the
    * patient key (dim broadcast — a versioned dimension is still
    * dimension-sized) with the interval bounds as a residual predicate —
    * never a nested-loop range join.
    */
  def scd2AsofLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = Warehouse.forDir(spark, dir).factEncounters
      .select($"encounter_key", $"patient_key", $"encounter_date")
    val dim = scd2Patient(spark, dir)
      .select($"patient_id", $"version", $"location",
        $"valid_from", $"valid_to")
    fact.join(broadcast(dim),
        $"patient_key" === $"patient_id" &&
          $"encounter_date" >= $"valid_from" && $"encounter_date" < $"valid_to")
      .groupBy($"version")
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct($"patient_id").as("n_patients"),
        sum(when($"location".startsWith("RELOCATED-"), 1L).otherwise(0L))
          .as("n_relocated"),
        min($"encounter_date").as("first_date"),
        max($"encounter_date").as("last_date"))
      .orderBy($"version")
  }

  /** The same point-in-time lookup through the native as-of merge exec —
    * the warehouse's own use of [[graft.plans.AsOfJoinExec]]. Because SCD2's
    * half-open intervals PARTITION time, "the version whose interval
    * contains the date" and "the version with the latest valid_from
    * at-or-before the date" are the same row, so the interval join and the
    * as-of merge must agree — this entry reuses the interval-join oracle
    * verbatim, making that equivalence the thing the hash checks. At scale
    * the trade: the broadcast interval join re-checks bounds per probe; the
    * as-of merge sorts once and streams, and never fans out when a key's
    * version count grows (deep-history dims).
    */
  def scd2AsofExec(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = Warehouse.forDir(spark, dir).factEncounters
      .select($"encounter_key", $"patient_key", $"encounter_date")
      .withColumn("e_day",
        datediff($"encounter_date", lit("1970-01-01")).cast("long"))
    val dim = scd2Patient(spark, dir)
      .select($"patient_id", $"version", $"location", $"valid_from")
      .withColumn("v_day",
        datediff($"valid_from", lit("1970-01-01")).cast("long"))
    graft.plans.AsOfJoin.asofLeft(fact, dim,
        leftKey = "patient_key", leftTime = "e_day",
        rightKey = "patient_id", rightTime = "v_day")
      // mirror the interval join's INNER semantics: encounters before the
      // first version (no as-of match) drop
      .filter($"version".isNotNull)
      .groupBy($"version")
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct($"patient_id").as("n_patients"),
        sum(when($"location".startsWith("RELOCATED-"), 1L).otherwise(0L))
          .as("n_relocated"),
        min($"encounter_date").as("first_date"),
        max($"encounter_date").as("last_date"))
      .orderBy($"version")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_scd2_patient" -> (scd2Patient _),
    "wh_scd2_asof_lookup" -> (scd2AsofLookup _),
    "wh_scd2_asof_exec" -> (scd2AsofExec _),
    "wh_scd3_patient" -> (scd3Patient _))

  /** The versioned-dimension CTE chain, shared by both oracles (one
    * definition of the merge semantics in SQL, like [[scd2Patient]] is the
    * one definition on the Spark side).
    */
  private def scdCtes: String = s"""gated AS (
  SELECT patient_id, age_group, sex, location,
         substring(md5('scd:' || CAST(patient_id AS VARCHAR)), 1, 1) AS g
  FROM dim_patient),
changes AS (
  SELECT patient_id, age_group, sex, 'RELOCATED-' || location AS location
  FROM gated WHERE g IN ('0', '1', '2', '3')
  UNION ALL
  SELECT patient_id + 10000000 AS patient_id, 'Unknown' AS age_group, sex,
         'NEW-ARRIVAL' AS location
  FROM gated WHERE g = 'f'),
existing AS (
  SELECT d.patient_id, d.age_group, d.sex, d.location,
         1 AS version, DATE '$V1From' AS valid_from,
         CASE WHEN c.patient_id IS NOT NULL THEN DATE '$ChangeDate'
              ELSE DATE '$OpenEnd' END AS valid_to,
         c.patient_id IS NULL AS is_current
  FROM dim_patient d
  LEFT JOIN (SELECT patient_id FROM changes) c ON d.patient_id = c.patient_id),
newv AS (
  SELECT c.patient_id, c.age_group, c.sex, c.location,
         CASE WHEN d.patient_id IS NOT NULL THEN 2 ELSE 1 END AS version,
         DATE '$ChangeDate' AS valid_from, DATE '$OpenEnd' AS valid_to,
         true AS is_current
  FROM changes c
  LEFT JOIN (SELECT patient_id FROM dim_patient) d ON c.patient_id = d.patient_id),
scd AS (SELECT * FROM existing UNION ALL SELECT * FROM newv)"""

  val oracle: Map[String, String] = Map(
    "wh_scd2_patient" -> s"""${OracleSql.prelude},
$scdCtes
SELECT (patient_id * 10 + version)::BIGINT AS scd_key,
       patient_id, age_group, sex, location,
       version::INT AS version, valid_from, valid_to, is_current
FROM scd
ORDER BY patient_id, version""",

    "wh_scd2_asof_lookup" -> s"""${OracleSql.prelude},
$scdCtes
SELECT s.version::INT AS version,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT s.patient_id)::BIGINT AS n_patients,
       sum(CASE WHEN s.location LIKE 'RELOCATED-%' THEN 1 ELSE 0 END)::BIGINT
         AS n_relocated,
       min(fe.encounter_date) AS first_date,
       max(fe.encounter_date) AS last_date
FROM fact_encounters fe
JOIN scd s ON fe.patient_key = s.patient_id
          AND fe.encounter_date >= s.valid_from
          AND fe.encounter_date < s.valid_to
GROUP BY s.version
ORDER BY version""",

    // DELIBERATELY the interval-join SQL again: intervals partition time,
    // so the as-of merge exec must reproduce the interval join exactly —
    // the equivalence IS the check
    "wh_scd2_asof_exec" -> s"""${OracleSql.prelude},
$scdCtes
SELECT s.version::INT AS version,
       count(*)::BIGINT AS n_encounters,
       count(DISTINCT s.patient_id)::BIGINT AS n_patients,
       sum(CASE WHEN s.location LIKE 'RELOCATED-%' THEN 1 ELSE 0 END)::BIGINT
         AS n_relocated,
       min(fe.encounter_date) AS first_date,
       max(fe.encounter_date) AS last_date
FROM fact_encounters fe
JOIN scd s ON fe.patient_key = s.patient_id
          AND fe.encounter_date >= s.valid_from
          AND fe.encounter_date < s.valid_to
GROUP BY s.version
ORDER BY version""",

    "wh_scd3_patient" -> s"""${OracleSql.prelude},
$scdCtes
SELECT coalesce(d.patient_id, c.patient_id) AS patient_id,
       coalesce(d.age_group, c.age_group) AS age_group,
       coalesce(d.sex, c.sex) AS sex,
       coalesce(c.location, d.location) AS location,
       CASE WHEN c.location IS NOT NULL AND d.location IS NOT NULL
            THEN d.location ELSE 'N/A' END AS prior_location,
       (c.location IS NOT NULL AND d.location IS NOT NULL) AS changed
FROM dim_patient d FULL OUTER JOIN changes c ON d.patient_id = c.patient_id
ORDER BY patient_id""")
}
