package graft.warehouse

import graft.Tables
import graft.analytics.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reports as a first-class entity — the reference's `reports` table carries
  * report_text / impression / findings per encounter
  * (`/root/reference/sql/01_schema.sql:88-98`); rounds 1-3 collapsed it to
  * the `has_report` flag plus the documents text operators. This module is
  * the entity itself plus the report-text rollup a radiology warehouse asks:
  *
  *  - [[dimReport]]: the reports projection over the landed documents
  *    corpus (doc_id ↔ encounter_id, SURVEY §7.1) — impression is the
  *    first sentence, findings the full narrative, mirroring the
  *    impression/findings split of the reference schema.
  *  - [[textByFacility]]: fact ⋈ reports ⋈ dim_facility rollup of report
  *    volume and narrative length per facility.
  *
  * Scale notes (100 TB): dimReport is a pure projection (map-side, no
  * shuffle); the facility rollup broadcasts the facility dim and joins
  * fact→documents on the encounter key — both sides bucketed by that key at
  * ingest time co-locate the join, and the aggregate is partial map-side.
  */
object Reports extends graft.QueryModule {

  /** First '.'-sentence of the narrative — the impression line. */
  private def impression(text: org.apache.spark.sql.Column) =
    trim(element_at(split(text, "\\."), 1))

  def dimReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        $"doc_id".as("report_id"),
        $"doc_id".as("encounter_id"),
        impression($"text").as("impression"),
        $"text".as("findings"),
        $"lang", $"source", $"n_chars")
      .orderBy($"report_id")
  }

  def textByFacility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Warehouse.forDir(spark, dir)
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars")
    w.factEncounters.filter($"has_report")
      .join(broadcast(w.dimFacility), "facility_key")
      .join(docs, $"encounter_key" === $"doc_id")
      .groupBy($"facility_name", $"facility_type")
      .agg(
        count(lit(1)).as("n_reports"),
        sum($"n_chars").as("total_chars"),
        (sum($"n_chars") * lit(1.0) / count(lit(1))).as("avg_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"n_reports".desc, $"facility_name")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rpt_dim_report" -> (dimReport _),
    "rpt_text_by_facility" -> (textByFacility _))

  val oracle: Map[String, String] = Map(
    "rpt_dim_report" -> """SELECT doc_id AS report_id,
       doc_id AS encounter_id,
       trim(string_split(text, '.')[1]) AS impression,
       text AS findings,
       lang, source, n_chars
FROM documents
ORDER BY report_id""",

    "rpt_text_by_facility" -> s"""${OracleSql.prelude}
SELECT df.facility_name, df.facility_type,
       count(*)::BIGINT AS n_reports,
       sum(d.n_chars)::BIGINT AS total_chars,
       sum(d.n_chars) * 1.0 / count(*) AS avg_chars,
       max(d.n_chars)::INT AS max_chars
FROM fact_encounters fe
JOIN dim_facility df ON fe.facility_key = df.facility_key
JOIN documents d ON fe.encounter_key = d.doc_id
WHERE fe.has_report
GROUP BY df.facility_name, df.facility_type
ORDER BY n_reports DESC, df.facility_name""")
}
