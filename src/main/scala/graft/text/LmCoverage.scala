package graft.text

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bigram language-model coverage — the cheap "commonness" quality signal
  * that needs no log-probs at all (the full fixed-point cross-entropy
  * score lives in [[LmPerplexity]]; this is its constant-cost sibling for
  * when a 200-row reference table beats a vocabulary-sized model join):
  * score each document by the
  * fraction of its bigrams that land in the corpus's top-[[LmTopBigrams]]
  * bigram table. Documents far below the corpus norm are gibberish/noise
  * candidates; far above are boilerplate candidates — the two tails a
  * Gopher-style rule cuts. Pure integer counting plus one rounded division,
  * so the score itself is oracle-checked.
  *
  * Scale: bigram extraction is map-side; the top-N table is a keyed count
  * plus one top-k cut (the window form here; at corpus scale the same cut
  * is per-partition top-N + merge, or a df floor — the
  * [[Curate.ngramOverlap]] cap pattern) and broadcasts to the per-doc
  * join; the per-doc rollup is one shuffle on doc_id. Documents with fewer
  * than 2 tokens have no bigrams and are absent by definition.
  */
object LmCoverage extends graft.QueryModule {

  /** Size of the "common bigram" reference table — one value, both engines. */
  val LmTopBigrams = 200

  def lmCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))""".stripMargin))
        .as("bigram"))
    val top = bg.groupBy($"bigram").agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(Window.orderBy($"n".desc, $"bigram")))
      .filter($"rk" <= LmTopBigrams)
      .select($"bigram", lit(1L).as("hit"))
    bg.join(broadcast(top), Seq("bigram"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce($"hit", lit(0L))).as("n_common"))
      .select($"doc_id", $"n_bigrams", $"n_common",
        GraftFunctions.round2($"n_common" * lit(100.0) / $"n_bigrams")
          .as("coverage_pct"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_coverage" -> (lmCoverage _))

  val oracle: Map[String, String] = Map(
    "text_lm_coverage" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2),
top AS (
  SELECT bigram FROM (
    SELECT bigram,
           row_number() OVER (ORDER BY count(*) DESC, bigram) AS rk
    FROM bg GROUP BY bigram)
  WHERE rk <= $LmTopBigrams)
SELECT doc_id,
       count(*)::BIGINT AS n_bigrams,
       sum(CASE WHEN bigram IN (SELECT bigram FROM top)
                THEN 1 ELSE 0 END)::BIGINT AS n_common,
       FLOOR(sum(CASE WHEN bigram IN (SELECT bigram FROM top)
                      THEN 1 ELSE 0 END) * 100.0 / count(*) * 100 + 0.5)
         / 100.0 AS coverage_pct
FROM bg
GROUP BY doc_id
ORDER BY doc_id""")
}
