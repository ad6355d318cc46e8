package graft.text

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order shuffle audit — the check a corpus gets before its
  * shards are streamed into a trainer: a "shuffled" write that still
  * contains long consecutive runs of one source gives the model
  * correlated gradient batches (the classic curriculum-by-accident bug
  * when an upstream sort leaks through). The deterministic order under
  * audit is the engine's own md5 shuffle key (h32("ord:"+doc_id) — the
  * same seeded-hash order `curate_shard_assign`-style writers use), and
  * the report is per source: run count, max run length, and mean run
  * length in that order. A healthy shuffle keeps max_run near
  * O(log n / log(1/p_s)); a leaky one shows a source-length run.
  *
  * Runs come from the gaps-and-islands double-row_number key (global rank
  * minus per-source rank is constant exactly inside a consecutive
  * same-source run) — one pass, no self-joins. The global rank makes this
  * an inherently sequential audit; at billions of docs the same two
  * row_numbers ride the banded two-phase pattern of `win_global_rank`
  * (band by hash-key prefix, prefix-sum the band counts) — the run
  * statistics are unchanged because band boundaries are hash-order
  * boundaries.
  */
object TrainingOrder extends graft.QueryModule {

  def trainingOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ordered = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        Md5Hash.h32(concat(lit("ord:"), $"doc_id".cast("string"))).as("hk"))
    val w = Window.orderBy($"hk", $"doc_id")
    val ws = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
    val runs = ordered
      .withColumn("island",
        row_number().over(w) - row_number().over(ws))
      .groupBy($"source", $"island")
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy($"source")
      .agg(sum($"run_len").as("n_docs"),
        count(lit(1)).as("n_runs"),
        max($"run_len").as("max_run"))
      .select($"source", $"n_docs", $"n_runs", $"max_run",
        ($"n_docs" * lit(1.0) / $"n_runs").as("avg_run"))
      .orderBy($"source")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_training_order" -> (trainingOrder _))

  val oracle: Map[String, String] = Map(
    "curate_training_order" -> s"""WITH ordered AS (
  SELECT doc_id, source,
         ${Md5Hash.h32Sql("'ord:' || doc_id::VARCHAR")} AS hk
  FROM documents),
runs AS (
  SELECT source, island, count(*)::BIGINT AS run_len
  FROM (SELECT source,
               ROW_NUMBER() OVER (ORDER BY hk, doc_id)
                 - ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY hk, doc_id) AS island
        FROM ordered)
  GROUP BY source, island)
SELECT source, sum(run_len)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_runs,
       max(run_len)::BIGINT AS max_run,
       sum(run_len) * 1.0 / count(*) AS avg_run
FROM runs
GROUP BY source
ORDER BY source""")
}
