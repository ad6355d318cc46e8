package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term weighting and cross-document boilerplate detection over the
  * `documents` corpus — the two remaining pillars of a training-data text
  * pipeline after quality gating ([[TextAnalysis]]) and dedup
  * ([[graft.dedup.Dedup]]): rank what a document is *about*, and strip the
  * spans every document shares (headers, navigation, license text).
  *
  * Determinism: the idf factor is the rational `N/df` (one exact IEEE
  * division) rather than `log(N/df)` — JVM `log` is 1-ulp, not correctly
  * rounded, so a log idf could never hash-match DuckDB; rank order is
  * identical either way because log is monotonic.
  */
object TfIdf extends graft.QueryModule {

  /** Top terms kept per document. */
  val TopK = 5

  /** A shingle is boilerplate when it appears in at least this many distinct
    * documents.
    */
  val BoilerMinDocs = 5

  /** Shingle width (tokens) for boilerplate spans. */
  val BoilerGram = 3

  /** Top-[[TopK]] terms per document by tf·(N/df) weight.
    *
    * Scale shape: tf is a (doc, token) aggregate partitioned by the explode
    * source — map-side partials collapse repeated tokens before the shuffle.
    * df is vocabulary-sized and N is a single row, so the weighting join
    * broadcasts; only the final per-doc top-k window shuffles on `doc_id`,
    * the natural key.
    */
  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"token")
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(total))
      .select($"doc_id", $"token", $"tf", $"df",
        ($"tf" * ($"n_docs" * lit(1.0) / $"df")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .orderBy($"doc_id", $"rk")
  }

  /** Per-document boilerplate coverage: the share of [[BoilerGram]]-token
    * shingle positions whose shingle occurs in ≥ [[BoilerMinDocs]] distinct
    * documents. High ratios flag documents that are mostly template.
    *
    * Scale shape: the distinct (doc, shingle) projection and the doc-
    * frequency count both shuffle on the shingle hash — uniform by
    * construction. The surviving boilerplate set is far smaller than the
    * shingle universe (frequency-filtered), so the tagging join broadcasts
    * (confirmed in the plan); if the corpus ever pushes it past the
    * broadcast threshold, AQE falls back to a shuffle equi-join on the
    * same key. The per-doc rollup shuffles on `doc_id`.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // top-level explode + element_at concat keeps gram assembly inside
    // whole-stage codegen — the transform(.., i -> concat_ws(slice(..)))
    // lambda form runs interpreted and measured 7× slower (see
    // Curate.overlapGrams)
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("tk"))
      .filter(size($"tk") >= BoilerGram)
      .select($"doc_id", $"tk",
        explode(sequence(lit(0), size($"tk") - BoilerGram)).as("i"))
      .select($"doc_id",
        concat_ws(" ",
          (1 to BoilerGram).map(k => element_at($"tk", $"i" + k)): _*)
          .as("g"))
    val docFreq = sh.select($"doc_id", $"g").distinct()
      .groupBy($"g").agg(count(lit(1)).as("n_docs"))
    val boiler = docFreq.filter($"n_docs" >= BoilerMinDocs).select($"g", $"n_docs")
    sh.join(boiler, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        count($"n_docs").as("n_boiler"))
      .select($"doc_id", $"n_shingles", $"n_boiler",
        ($"n_boiler" * lit(1.0) / $"n_shingles").as("boiler_ratio"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tfidf_topk" -> (tfidfTopK _),
    "text_boilerplate" -> (boilerplate _))

  val oracle: Map[String, String] = Map(
    "text_tfidf_topk" -> s"""WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
total AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * (total.n_docs * 1.0 / df.df) AS score
  FROM tf JOIN df USING (token), total),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rk
  FROM scored)
SELECT doc_id, token, tf, df, score, rk
FROM ranked WHERE rk <= $TopK
ORDER BY doc_id, rk""",

    "text_boilerplate" -> s"""WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents),
sh AS (
  SELECT doc_id, array_to_string(tk[i + 1:i + $BoilerGram], ' ') AS g
  FROM t, LATERAL (SELECT unnest(range(0, len(tk) - ${BoilerGram - 1})) AS i)
  WHERE len(tk) >= $BoilerGram),
docfreq AS (
  SELECT g, count(*)::BIGINT AS n_docs
  FROM (SELECT DISTINCT doc_id, g FROM sh) GROUP BY g),
boiler AS (SELECT g FROM docfreq WHERE n_docs >= $BoilerMinDocs)
SELECT sh.doc_id,
       count(*)::BIGINT AS n_shingles,
       count(b.g)::BIGINT AS n_boiler,
       count(b.g) * 1.0 / count(*) AS boiler_ratio
FROM sh LEFT JOIN boiler b ON sh.g = b.g
GROUP BY sh.doc_id
ORDER BY doc_id""")
}
