package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The counting core of byte-pair-encoding tokenizer training (Sennrich et
  * al., public literature): one BPE iteration = count every adjacent symbol
  * pair across the corpus, weighted by word frequency, and merge the most
  * frequent. This operator materializes that count table for the FIRST
  * iteration (character-level symbols), which is the expensive, corpus-wide
  * step — every later iteration works on the vocabulary-sized word table
  * with merged symbols substituted, same plan shape.
  *
  * Scale shape: the corpus collapses to the word-frequency table first
  * (one shuffle, map-side partials), so pair explosion runs over the
  * VOCABULARY (bounded fan-out = word length), not the corpus. At 100 TB
  * the vocab table is millions of rows — the pair count is a small
  * aggregate no matter the corpus size.
  */
object BpePairs extends graft.QueryModule {

  /** Merge candidates reported. One value, both engines. */
  val TopPairs = 20

  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wordCounts = Tables.documents(spark, dir)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("n"))
    wordCounts
      .select($"w", $"n",
        explode(expr("sequence(1, length(w) - 1)")).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"), $"n")
      .groupBy($"pair")
      .agg(sum($"n").as("n_occurrences"))
      .orderBy($"n_occurrences".desc, $"pair")
      .limit(TopPairs)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_pairs" -> (bpePairs _))

  val oracle: Map[String, String] = Map(
    "text_bpe_pairs" -> s"""WITH words AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
wc AS (
  SELECT w, count(*)::BIGINT AS n FROM words WHERE len(w) >= 2 GROUP BY w),
pairs AS (
  SELECT substring(w, i::INT, 2) AS pair, n
  FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i))
SELECT pair, sum(n)::BIGINT AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT $TopPairs""")
}
