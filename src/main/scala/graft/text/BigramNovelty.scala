package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Character-bigram novelty filter — the LM-free core of a CCNet-style
  * perplexity gate: a document whose character bigrams are RARE in the
  * corpus-wide bigram model reads as gibberish, boilerplate-mangled
  * extraction, or the wrong language — exactly what a perplexity filter
  * flags, but computed as exact integer ratios (corpus bigram counts,
  * per-doc rare-bigram share) with no `log` anywhere, so the score
  * hash-compares bit-for-bit (the repo's no-engine-log rule; the
  * fixed-point-ln alternative lives in [[Entropy]]).
  *
  * Per doc: total char bigrams, bigrams whose corpus frequency is below
  * [[RareMax]], novelty = rare/total (one exact IEEE division), and the
  * gate flag at [[NoveltyTau]]. Corpus counts build once with map-side
  * combine (alphabet²-bounded table, broadcast back); the per-doc pass is
  * map-side — the same two-scan shape as TF-IDF, linear at 100 TB.
  */
object BigramNovelty extends graft.QueryModule {

  /** Corpus-frequency floor under which a bigram counts as rare. */
  val RareMax = 50L

  /** Novelty share above which a document is flagged. */
  val NoveltyTau = 0.20

  /** Docs reported (most novel first — review-queue order). */
  val ReportTopK = 50

  def bigramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.GraftExtensions.registerAll(spark)
    // per-doc DISTINCT-bigram counts straight from the codegen'd kernel
    // ([[graft.functions.BigramCounts]]): all of a document's bigrams live
    // in its own row, so the declarative explode-every-character →
    // groupBy(doc, bg) shuffle (10M rows / 5.3 MB at sf0.1 — this query's
    // entire wall) computed a row-local fact; the kernel emits it
    // map-side. A <2-code-point doc yields an empty array and drops under
    // explode — exactly the oracle's empty `range(1, length(t))`.
    val perDocCounts = Tables.documents(spark, dir)
      .select($"doc_id", lower(trim($"text")).as("t"))
      .select($"doc_id", explode(expr("graft_bigram_counts(t)")).as("s"))
      .select($"doc_id", $"s.bg".as("bg"), $"s.c".as("c"))
    val corpus = perDocCounts.groupBy($"bg").agg(sum($"c").as("cf"))
    // The corpus model is alphabet²-bounded — which is "a few thousand
    // rows at ANY corpus size" ONLY for small alphabets (ASCII/Latin text,
    // this corpus). A CJK/emoji-heavy corpus has an alphabet² in the tens
    // of millions, where a FORCED broadcast is a driver OOM, not a win —
    // so the hint ships behind a conf (default on, matching this corpus'
    // known alphabet): a wide-alphabet deployment sets it false and lets
    // autoBroadcastJoinThreshold/AQE pick the join, degrading to a
    // shuffle instead of an OOM.
    val hinted =
      if (spark.conf.get("spark.sql.graft.bigramBroadcast", "true").toBoolean)
        broadcast(corpus)
      else corpus
    val perDoc = perDocCounts.join(hinted, "bg")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        sum(when($"cf" < RareMax, $"c").otherwise(0L)).as("n_rare"))
      .withColumn("novelty", $"n_rare" * lit(1.0) / $"n_bigrams")
      .withColumn("flagged", ($"novelty" > NoveltyTau).cast("int"))
    perDoc
      .orderBy($"novelty".desc, $"doc_id")
      .limit(ReportTopK)
      .select($"doc_id", $"n_bigrams", $"n_rare", $"novelty", $"flagged")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_novelty" -> (bigramNovelty _))

  val oracle: Map[String, String] = Map(
    "text_bigram_novelty" -> s"""WITH t AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents),
grams AS (
  SELECT doc_id, substring(t, i::INT, 2) AS bg
  FROM t, LATERAL (SELECT unnest(range(1, length(t))) AS i)),
corpus AS (SELECT bg, count(*)::BIGINT AS cf FROM grams GROUP BY bg),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         sum(CASE WHEN cf < $RareMax THEN 1 ELSE 0 END)::BIGINT AS n_rare
  FROM grams JOIN corpus USING (bg)
  GROUP BY doc_id)
SELECT doc_id, n_bigrams, n_rare,
       n_rare * 1.0 / n_bigrams AS novelty,
       CASE WHEN n_rare * 1.0 / n_bigrams > $NoveltyTau
            THEN 1 ELSE 0 END::INT AS flagged
FROM per_doc
ORDER BY novelty DESC, doc_id
LIMIT $ReportTopK""")
}
