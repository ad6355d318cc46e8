package graft.text

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Length-bucketed batching audit — the padding-waste accounting a training
  * pipeline runs before fixing its batching strategy: batches pad every
  * sequence to the longest in the batch, so batching RANDOM docs wastes
  * compute proportional to the length spread, while bucketing docs by
  * length first (the standard bucketed-batching trick) bounds the waste by
  * the intra-bucket spread. This entry assigns each document to a
  * fixed-width token-length bucket and reports, per bucket, the padded-token
  * overhead if batches are drawn within the bucket — the number that decides
  * bucket width.
  *
  * Scale: one token-count scan (the [[TextAnalysis]] whitespace tokenizer),
  * one keyed aggregate on the bucket id. Integer counts and one final
  * rounded division — hash-stable.
  */
object LengthBuckets extends graft.QueryModule {

  /** Bucket width in tokens — one value, both engines. */
  val BucketTokens = 16

  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(size(split(trim(lower($"text")), "\\s+")).cast("long")
        .as("n_tokens"))
      .withColumn("bucket_id",
        ($"n_tokens" / BucketTokens).cast("long"))
      .groupBy($"bucket_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        max($"n_tokens").as("max_tokens"))
      .select($"bucket_id", $"n_docs", $"total_tokens", $"max_tokens",
        ($"n_docs" * $"max_tokens" - $"total_tokens").as("padding_tokens"),
        GraftFunctions.round2(
          ($"n_docs" * $"max_tokens" - $"total_tokens") * lit(100.0) /
            ($"n_docs" * $"max_tokens")).as("waste_pct"))
      .orderBy($"bucket_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_length_buckets" -> (lengthBuckets _))

  val oracle: Map[String, String] = Map(
    "curate_length_buckets" -> s"""WITH toks AS (
  SELECT len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT
           AS n_tokens
  FROM documents),
b AS (
  SELECT (n_tokens // $BucketTokens)::BIGINT AS bucket_id,
         count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS total_tokens,
         max(n_tokens)::BIGINT AS max_tokens
  FROM toks GROUP BY 1)
SELECT bucket_id, n_docs, total_tokens, max_tokens,
       (n_docs * max_tokens - total_tokens)::BIGINT AS padding_tokens,
       FLOOR((n_docs * max_tokens - total_tokens) * 100.0
             / (n_docs * max_tokens) * 100 + 0.5) / 100.0 AS waste_pct
FROM b ORDER BY bucket_id""")
}
