package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weak-supervision labeling-function audit — the Snorkel/`lf_summary`
  * workflow (Ratner et al. 2017) that precedes training a label model:
  * several cheap heuristic labeling functions each vote keep(+1) /
  * drop(−1) / abstain(0) on every document, and the table that decides
  * whether they're usable reports, per function, its polarity counts,
  * COVERAGE (how often it votes), OVERLAP (votes alongside another
  * function), and CONFLICT (votes against another function). High coverage
  * + low conflict → trust it; high conflict → the label model has signal
  * to weigh.
  *
  * The four functions here are the corpus-quality heuristics the curation
  * stack already trusts, recast as voters: token-length band, stopword
  * presence, digit-density, and the language label. With a binary label
  * space, per-doc conflict collapses to integer comparisons against the
  * doc's (+1)/(−1) vote tallies — no pairwise LF×LF join: conflict for a
  * +1 vote is just "some other LF voted −1" ⟺ n_neg ≥ 1.
  *
  * Scale: votes and tallies are one map-side pass over documents; the
  * per-LF stack multiplies rows by the CONSTANT number of LFs; one
  * aggregate keyed on lf_name ends it. Ratios are exact integer counts
  * over one final division each.
  */
object WeakLabels extends graft.QueryModule {

  /** Token count at/above which lf_length votes keep. */
  val LenKeep = 60

  /** Token count below which lf_length votes drop. */
  val LenDrop = 25

  /** Stopword occurrences at/above which lf_stopword votes keep. */
  val StopKeep = 3

  /** lf_digit votes drop when digit chars exceed 1/[[DigitDenom]] of text. */
  val DigitDenom = 5

  /** The LF names, in vote-column order — shared by the audit and the
    * Shapley attribution.
    */
  val LfNames: Seq[String] = Seq("lf_length", "lf_stopword", "lf_digit", "lf_lang_en")

  /** Per-doc vote matrix (doc_id + one {−1,0,1} column per LF) — the
    * shared input of [[weakLabels]] and [[LfShapley]].
    */
  def voted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stopArr = TextAnalysis.Stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    Tables.documents(spark, dir)
      .withColumn("n_toks", size(split(trim($"text"), "\\s+")))
      .withColumn("n_stop",
        expr(s"size(filter(split(trim(text), '\\\\s+'), t -> lower(t) IN $stopArr))"))
      .withColumn("n_digit",
        length($"text") - length(regexp_replace($"text", "[0-9]", "")))
      .select($"doc_id",
        when($"n_toks" >= LenKeep, 1).when($"n_toks" < LenDrop, -1)
          .otherwise(0).as("v_length"),
        when($"n_stop" >= StopKeep, 1).when($"n_stop" === 0, -1)
          .otherwise(0).as("v_stopword"),
        when($"n_digit" * DigitDenom > length($"text"), -1)
          .otherwise(0).as("v_digit"),
        when($"lang" === "en", 1).otherwise(-1).as("v_lang_en"))
  }

  /** DuckDB twin of [[voted]] (a complete SELECT, usable as a CTE body). */
  private[text] def votedSql: String = {
    val stopArr = TextAnalysis.Stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    s"""SELECT doc_id,
         CASE WHEN n_toks >= $LenKeep THEN 1
              WHEN n_toks < $LenDrop THEN -1 ELSE 0 END AS v_length,
         CASE WHEN n_stop >= $StopKeep THEN 1
              WHEN n_stop = 0 THEN -1 ELSE 0 END AS v_stopword,
         CASE WHEN n_digit * $DigitDenom > n_chars THEN -1 ELSE 0 END AS v_digit,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS v_lang_en
  FROM (SELECT doc_id, lang, length(text) AS n_chars,
               length(string_split_regex(trim(text), '\\s+')) AS n_toks,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                   t -> lower(t) IN $stopArr)) AS n_stop,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS n_digit
        FROM documents)"""
  }

  def weakLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val voteDf = voted(spark, dir)
      .withColumn("n_pos",
        ($"v_length" === 1).cast("int") + ($"v_stopword" === 1).cast("int") +
          ($"v_digit" === 1).cast("int") + ($"v_lang_en" === 1).cast("int"))
      .withColumn("n_neg",
        ($"v_length" === -1).cast("int") + ($"v_stopword" === -1).cast("int") +
          ($"v_digit" === -1).cast("int") + ($"v_lang_en" === -1).cast("int"))
    val stacked = voteDf.select($"n_pos", $"n_neg", expr(
      "stack(4, 'lf_length', v_length, 'lf_stopword', v_stopword, " +
        "'lf_digit', v_digit, 'lf_lang_en', v_lang_en) AS (lf_name, vote)"))
    stacked.groupBy($"lf_name")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(($"vote" === 1).cast("bigint")).as("n_keep"),
        sum(($"vote" === -1).cast("bigint")).as("n_drop"),
        sum(($"vote" =!= 0).cast("bigint")).as("n_voted"),
        // another LF voted too: tallies minus this LF's own vote
        sum(($"vote" =!= 0 &&
          ($"n_pos" + $"n_neg" - ($"vote" =!= 0).cast("int")) >= 1)
          .cast("bigint")).as("n_overlap"),
        sum((($"vote" === 1 && $"n_neg" >= 1) ||
          ($"vote" === -1 && $"n_pos" >= 1)).cast("bigint")).as("n_conflict"))
      .select($"lf_name", $"n_docs", $"n_keep", $"n_drop",
        ($"n_voted" * lit(1.0) / $"n_docs").as("coverage"),
        ($"n_overlap" * lit(1.0) / $"n_docs").as("overlaps"),
        ($"n_conflict" * lit(1.0) / $"n_docs").as("conflicts"))
      .orderBy($"lf_name")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_weak_labels" -> (weakLabels _))

  val oracle: Map[String, String] = {
    Map("curate_weak_labels" -> s"""WITH voted AS ($votedSql),
tallied AS (
  SELECT *,
         (v_length = 1)::INT + (v_stopword = 1)::INT + (v_digit = 1)::INT
           + (v_lang_en = 1)::INT AS n_pos,
         (v_length = -1)::INT + (v_stopword = -1)::INT + (v_digit = -1)::INT
           + (v_lang_en = -1)::INT AS n_neg
  FROM voted),
stacked AS (
  SELECT n_pos, n_neg, 'lf_length' AS lf_name, v_length AS vote FROM tallied
  UNION ALL
  SELECT n_pos, n_neg, 'lf_stopword', v_stopword FROM tallied
  UNION ALL
  SELECT n_pos, n_neg, 'lf_digit', v_digit FROM tallied
  UNION ALL
  SELECT n_pos, n_neg, 'lf_lang_en', v_lang_en FROM tallied)
SELECT lf_name, count(*)::BIGINT AS n_docs,
       sum((vote = 1)::INT)::BIGINT AS n_keep,
       sum((vote = -1)::INT)::BIGINT AS n_drop,
       sum((vote <> 0)::INT) * 1.0 / count(*) AS coverage,
       sum((vote <> 0 AND n_pos + n_neg - (vote <> 0)::INT >= 1)::INT)
         * 1.0 / count(*) AS overlaps,
       sum(((vote = 1 AND n_neg >= 1) OR (vote = -1 AND n_pos >= 1))::INT)
         * 1.0 / count(*) AS conflicts
FROM stacked
GROUP BY lf_name
ORDER BY lf_name""")
  }
}
