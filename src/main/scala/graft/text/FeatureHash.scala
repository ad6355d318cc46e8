package graft.text

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hashing trick (Weinberger et al. 2009) for categorical features —
  * the fixed-width encoder a training pipeline uses when the category
  * vocabulary is unbounded or unseen-at-train-time: bucket =
  * `h(feature_name : value) mod [[Buckets]]`, no dictionary to build,
  * ship, or version. What production systems then need — and what this
  * operator emits — is the COLLISION AUDIT: per bucket, how many distinct
  * raw categories landed there and how much row mass they carry, because
  * two heavy categories sharing a bucket is the silent model-quality bug
  * the trick trades its statelessness for.
  *
  * Features hashed here: the customer dimension's market segment and
  * nation (name-qualified, so identical values of different features
  * never alias). The hash is the engine-shared md5-prefix
  * ([[Md5Hash.h32]] ↔ [[Md5Hash.h32Sql]]) — same buckets in both engines,
  * and at 100 TB the same buckets on every executor with no broadcast
  * dictionary. One map-side-combined aggregate; the audit table is
  * [[Buckets]]-bounded.
  */
object FeatureHash extends graft.QueryModule {

  /** Hash-space width. Deliberately small so the audit shows real
    * collisions at test scale; production widths (2^18+) make collisions
    * rare, not impossible — the audit is the same either way.
    */
  val Buckets = 64

  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val feats = c.select(lit("mktsegment").as("feature"),
        $"c_mktsegment".as("value"))
      .unionByName(c.select(lit("nation").as("feature"),
        $"c_nationkey".cast("string").as("value")))
    feats
      .withColumn("bucket",
        pmod(Md5Hash.h32(concat($"feature", lit(":"), $"value")),
          lit(Buckets.toLong)))
      .groupBy($"bucket")
      .agg(countDistinct($"feature", $"value").as("n_categories"),
        count(lit(1)).as("n_rows"),
        min(concat($"feature", lit(":"), $"value")).as("first_category"),
        max(concat($"feature", lit(":"), $"value")).as("last_category"))
      .withColumn("collided", ($"n_categories" > 1).cast("int"))
      .orderBy($"bucket")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_feature_hash" -> (featureHash _))

  val oracle: Map[String, String] = Map(
    "curate_feature_hash" -> s"""WITH feats AS (
  SELECT 'mktsegment' AS feature, c_mktsegment AS value FROM customer
  UNION ALL
  SELECT 'nation', c_nationkey::VARCHAR FROM customer),
hashed AS (
  SELECT feature, value,
         ${Md5Hash.h32Sql("feature || ':' || value")} % $Buckets AS bucket
  FROM feats)
SELECT bucket,
       count(DISTINCT (feature, value))::BIGINT AS n_categories,
       count(*)::BIGINT AS n_rows,
       min(feature || ':' || value) AS first_category,
       max(feature || ':' || value) AS last_category,
       CASE WHEN count(DISTINCT (feature, value)) > 1 THEN 1 ELSE 0 END::INT
         AS collided
FROM hashed GROUP BY bucket ORDER BY bucket""")
}
