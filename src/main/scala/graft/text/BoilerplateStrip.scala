package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C4-style repeated-segment REMOVAL — the transform that
  * [[TfIdf.boilerplate]]'s coverage report only prices: every
  * [[SegTokens]]-token segment whose corpus-wide occurrence count reaches
  * [[MinDf]] is dropped from EVERY document (C4's "discard any line seen
  * three times" rule, token-segment form since this corpus has no line
  * structure), and the surviving segments are reassembled in order into
  * the cleaned text the next pipeline stage actually consumes. Documents
  * that were pure boilerplate come back as empty strings, not dropped
  * rows — the row-conservation the stage contract needs.
  *
  * The reassembly is the part naive implementations get wrong at scale:
  * collect_list is unordered by contract, so the rebuild sorts each doc's
  * surviving (position, segment) pairs INSIDE the aggregate
  * (array_sort over structs — position is unique per doc, so the order
  * is total) before joining them back into text. One segment-fingerprint
  * shuffle for the counts, one doc_id shuffle for the rebuild; nothing
  * pairwise anywhere.
  */
object BoilerplateStrip extends graft.QueryModule {

  /** Segment stride (tokens) — same granularity as `dedup_segment_exact`. */
  val SegTokens: Int = graft.dedup.SegmentDedup.SegTokens

  /** Corpus-wide occurrence count at which a segment becomes boilerplate
    * (C4's threshold).
    */
  val MinDf = 3

  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
      .select($"doc_id",
        explode(sequence(lit(0), size($"toks") - 1, lit(SegTokens))).as("s"),
        $"toks")
      .select($"doc_id", $"s",
        array_join(slice($"toks", $"s" + 1, lit(SegTokens)), " ").as("seg"))
    val freq = segs.groupBy($"seg").agg(count(lit(1)).as("df"))
    val keptAgg = segs.join(freq, "seg")
      .filter($"df" < MinDf)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(s, seg)))," +
          " x -> x.seg), ' ')").as("clean_text"))
    segs.groupBy($"doc_id").agg(count(lit(1)).as("n_segments"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_segments",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_text", lit("")).as("clean_text"),
        (($"n_segments" - coalesce($"n_kept", lit(0L))) * lit(1.0)
          / $"n_segments").as("pct_removed"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_boilerplate_strip" -> (boilerplateStrip _))

  val oracle: Map[String, String] = Map(
    "curate_boilerplate_strip" -> s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
segs AS (
  SELECT doc_id, s, array_to_string(t[s+1 : s+$SegTokens], ' ') AS seg
  FROM toks, LATERAL (SELECT unnest(range(0, len(t), $SegTokens)) AS s)),
freq AS (SELECT seg, count(*)::BIGINT AS df FROM segs GROUP BY seg),
kept AS (
  SELECT s.doc_id, count(*)::BIGINT AS n_kept,
         string_agg(s.seg, ' ' ORDER BY s.s) AS clean_text
  FROM segs s JOIN freq f USING (seg)
  WHERE f.df < $MinDf
  GROUP BY s.doc_id),
totals AS (
  SELECT doc_id, count(*)::BIGINT AS n_segments FROM segs GROUP BY doc_id)
SELECT t.doc_id, t.n_segments,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       coalesce(k.clean_text, '') AS clean_text,
       (t.n_segments - coalesce(k.n_kept, 0)) * 1.0 / t.n_segments
         AS pct_removed
FROM totals t LEFT JOIN kept k USING (doc_id)
ORDER BY t.doc_id""")
}
