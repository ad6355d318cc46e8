package graft.warehouse

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Vault 2.0 modeling pass (Linstedt, public literature) beside the
  * Kimball star the warehouse already materializes — the OTHER standard
  * warehouse shape, chosen when auditability and parallel loadability
  * outrank query ergonomics. Hubs carry business keys, links carry
  * relationships, satellites carry attribute payloads with a hashdiff for
  * change detection; every surrogate is an md5 of the business key, so the
  * model is deterministic, idempotent, and loadable in any order — the
  * properties that let a 100 TB vault load all entities concurrently with
  * no sequence coordination.
  *
  * The entry emits the load ledger (the audit artifact a vault run
  * publishes): per entity, row volume and an order-independent key
  * checksum (sum of h32 over the hash key, reduced mod 2^31−1 in exact
  * DECIMAL — the [[PartitionedFact.partitionChecksums]] discipline), so
  * two loads agree iff their ledgers agree, without comparing any rows.
  */
object DataVault extends graft.QueryModule {

  private def ck(c: Column): Column =
    (sum(Md5Hash.h32(c).cast("decimal(38,0)")) % Md5Hash.P)
      .cast("bigint")

  def vaultLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // hub_patient: one row per patient business key
    val hubPatient = Tables.customer(spark, dir)
      .select(concat(lit("hp:"), $"c_custkey".cast("string")).as("hk"))
    // hub_diagnosis: one row per diagnosis-code business key
    val hubDiag = Tables.part(spark, dir)
      .select(concat(lit("hd:"), $"p_partkey".cast("string")).as("hk"))
    // link_encounter_diagnosis: one row per distinct (encounter, code) pair
    val linkEncDiag = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
      .select(concat(lit("le:"), $"l_orderkey".cast("string"), lit("|"),
        $"l_partkey".cast("string")).as("hk"))
    // sat_patient: the attribute payload rows, keyed by (hub key, hashdiff)
    // — the hashdiff is what a delta load compares to detect changed
    // attributes without scanning them
    val satPatient = Tables.customer(spark, dir)
      .select(concat(lit("sp:"), $"c_custkey".cast("string"), lit("|"),
        md5(concat_ws("|", $"c_name", $"c_nationkey".cast("string"),
          $"c_acctbal".cast("decimal(12,2)").cast("string"), $"c_mktsegment"))).as("hk"))
    Seq(
      ("hub_patient", hubPatient),
      ("hub_diagnosis", hubDiag),
      ("link_encounter_diagnosis", linkEncDiag),
      ("sat_patient", satPatient))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_rows"), ck($"hk").as("key_checksum"))
          .select(lit(name).as("entity"), $"n_rows", $"key_checksum")
      }
      .reduce(_ unionByName _)
      .orderBy($"entity")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_data_vault" -> (vaultLedger _))

  private def ckSql(expr: String): String =
    s"(sum((${Md5Hash.h32Sql(expr)})::HUGEINT) % ${Md5Hash.P})::BIGINT"

  val oracle: Map[String, String] = Map(
    "wh_data_vault" -> s"""WITH hp AS (
  SELECT 'hp:' || c_custkey::VARCHAR AS hk FROM customer),
hd AS (
  SELECT 'hd:' || p_partkey::VARCHAR AS hk FROM part),
le AS (
  SELECT 'le:' || l_orderkey::VARCHAR || '|' || l_partkey::VARCHAR AS hk
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
sp AS (
  SELECT 'sp:' || c_custkey::VARCHAR || '|' ||
         md5(concat_ws('|', c_name, c_nationkey::VARCHAR,
                       c_acctbal::DECIMAL(12,2)::VARCHAR, c_mktsegment)) AS hk
  FROM customer)
SELECT 'hub_patient' AS entity, count(*)::BIGINT AS n_rows,
       ${ckSql("hk")} AS key_checksum FROM hp
UNION ALL
SELECT 'hub_diagnosis', count(*)::BIGINT, ${ckSql("hk")} FROM hd
UNION ALL
SELECT 'link_encounter_diagnosis', count(*)::BIGINT, ${ckSql("hk")} FROM le
UNION ALL
SELECT 'sat_patient', count(*)::BIGINT, ${ckSql("hk")} FROM sp
ORDER BY entity""")
}
