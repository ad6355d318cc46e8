package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-label embedding drift between two ingest cohorts — the monitoring
  * twin of [[Similarity.labelCentroidConfusion]]: separability says labels
  * are usable, drift says whether what a label MEANS has moved between two
  * slices of the feed (re-trained upstream encoder, data-source change,
  * crawl-period shift). Each label's centroid is computed per cohort with
  * the exact fixed-point accumulation the centroid family shares (scaled
  * longs — associative at any parallelism, DuckDB-replayable), and the
  * drift statistic is the cosine between the two cohort centroids via the
  * in-array-order [[graft.functions.CosineSimilarity]] kernel — raw double,
  * hash-stable with no rounding.
  *
  * Cohort split: even/odd vec_id (a deterministic interleave, so expected
  * drift ≈ 1.0 on stationary data — the meaningful deployment splits by
  * ingest period; the split column is THE knob and everything downstream
  * is split-agnostic).
  *
  * Scale: one (label, cohort, pos)-keyed aggregate with map-side partials;
  * the per-label join is |labels|-sized.
  */
object CentroidDrift extends graft.QueryModule {

  def drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    val e = Tables.embeddings(spark, dir)
      .withColumn("cohort", pmod($"vec_id", lit(2)).cast("int"))
    val cents = e
      .select($"label", $"cohort", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"cohort", $"pos")
      .agg(
        sum(floor($"v".cast("double") * lit(IvfIndex.FxScale) + lit(0.5))
          .cast("long")).as("s"),
        count(lit(1)).as("cnt"))
      .withColumn("m", ($"s".cast("double")
        / ($"cnt" * lit(IvfIndex.FxScale)).cast("double")).cast("float"))
      .groupBy($"label", $"cohort")
      .agg(
        transform(array_sort(collect_list(struct($"pos", $"m"))),
          x => x.getField("m")).as("centroid"),
        (max($"cnt")).as("n_vecs"))
    cents.filter($"cohort" === 0)
      .select($"label", $"centroid".as("c0"), $"n_vecs".as("n_even"))
      .join(cents.filter($"cohort" === 1)
        .select($"label", $"centroid".as("c1"), $"n_vecs".as("n_odd")),
        "label")
      .select($"label", $"n_even", $"n_odd",
        expr("graft_cosine(c0, c1)").as("centroid_cos"))
      .orderBy($"label")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_centroid_drift" -> (drift _))

  val oracle: Map[String, String] = Map(
    "sim_centroid_drift" -> s"""WITH sums AS (
  SELECT label, (vec_id % 2)::INT AS cohort, pos,
         sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * ${IvfIndex.FxScale}
                        + 0.5) AS BIGINT))::BIGINT AS s,
         count(*) AS cnt
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos)
  GROUP BY 1, 2, 3),
cents AS (
  SELECT label, cohort,
         list(CAST(CAST(s AS DOUBLE)
                   / CAST(cnt * ${IvfIndex.FxScale} AS DOUBLE) AS FLOAT)
              ORDER BY pos) AS centroid,
         max(cnt)::BIGINT AS n_vecs
  FROM sums GROUP BY 1, 2)
SELECT a.label, a.n_vecs AS n_even, b.n_vecs AS n_odd,
       ${Similarity.cosSql("a.centroid", "b.centroid")} AS centroid_cos
FROM cents a JOIN cents b ON a.label = b.label
WHERE a.cohort = 0 AND b.cohort = 1
ORDER BY a.label""")
}
