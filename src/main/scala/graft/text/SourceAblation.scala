package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Leave-one-source-out ablation — cheap data valuation: for every
  * source, what does the corpus look like WITHOUT it? Computed
  * algebraically from per-source aggregates and the verified near-dup
  * pair table — never by materializing 20 ablated corpora. Two facets per
  * source: the composition shift (mean tokens of the remainder) and the
  * deduplication shift (how many docs the pairwise keep-lowest policy
  * would still drop).
  *
  * The dedup facet is the subtle one: a victim d (some partner p < d
  * exists) SURVIVES removal of source σ only if d ∉ σ and ALL of d's
  * below-partners are in σ. So per source,
  *
  *   drops_without(σ) = victims_total − victims_in(σ)
  *                      − |{d ∉ σ : every below-partner ∈ σ}|
  *
  * — the last term read off the SPARSE per-(victim, partner-source)
  * counts (only combinations present in the pair table materialize),
  * compared against the victim's total partner count. Deliberately the
  * PAIR-level policy, not connected components: removing a source can
  * split transitive clusters, which would force 20 component recomputes;
  * the pairwise form ablates in closed form (documented semantics).
  *
  * Scale: per-source aggregates are one doc scan; everything else runs on
  * the memoized pair table (near-dup-sized, orders smaller than the
  * corpus).
  */
object SourceAblation extends graft.QueryModule {

  def sourceAblation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(split(trim(lower($"text")), "\\s+")).cast("long").as("n_toks"))
    val per = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
    val tot = per.agg(sum($"n_docs").as("tn"), sum($"n_tokens").as("tt"))

    val pSrc = graft.dedup.Dedup.pairsForDir(spark, dir)
      .join(docs.select($"doc_id".as("doc_a"), $"source".as("src_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"source".as("src_b")), "doc_b")
    val victims = pSrc.groupBy($"doc_b", $"src_b")
      .agg(count(lit(1)).as("tb"))
    val totalVictims = victims.agg(count(lit(1)).as("tv"))
    val dropsIn = victims.groupBy($"src_b".as("source"))
      .agg(count(lit(1)).as("v_in"))
    // victims OUTSIDE sigma whose every below-partner lies IN sigma
    val allIn = pSrc.groupBy($"doc_b", $"src_b", $"src_a")
      .agg(count(lit(1)).as("c"))
      .join(victims, Seq("doc_b", "src_b"))
      .filter($"c" === $"tb" && $"src_a" =!= $"src_b")
      .groupBy($"src_a".as("source"))
      .agg(count(lit(1)).as("v_saved"))

    per.join(dropsIn, Seq("source"), "left")
      .join(allIn, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(totalVictims))
      .select($"source", $"n_docs", $"n_tokens",
        (($"tt" - $"n_tokens").cast("double") / ($"tn" - $"n_docs"))
          .as("mean_tokens_without"),
        ($"tv" - coalesce($"v_in", lit(0L)) - coalesce($"v_saved", lit(0L)))
          .as("drops_without"),
        (($"tv" - coalesce($"v_in", lit(0L)) - coalesce($"v_saved", lit(0L)))
          .cast("double") / ($"tn" - $"n_docs")).as("dup_rate_without"),
        ((($"tv" - coalesce($"v_in", lit(0L)) - coalesce($"v_saved", lit(0L)))
          .cast("double") / ($"tn" - $"n_docs"))
          - ($"tv".cast("double") / $"tn")).as("delta_dup_rate"))
      .orderBy($"source")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_source_ablation" -> (sourceAblation _))

  val oracle: Map[String, String] = Map(
    "curate_source_ablation" -> s"""WITH pairs AS (
${graft.dedup.Dedup.jaccardOracleSql}),
docs AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_toks
  FROM documents),
per AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens
  FROM docs GROUP BY source),
tot AS (SELECT sum(n_docs)::BIGINT AS tn, sum(n_tokens)::BIGINT AS tt FROM per),
p_src AS (
  SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN docs da ON da.doc_id = p.doc_a
  JOIN docs db ON db.doc_id = p.doc_b),
victims AS (
  SELECT doc_b, src_b, count(*)::BIGINT AS tb
  FROM p_src GROUP BY doc_b, src_b),
total_victims AS (SELECT count(*)::BIGINT AS tv FROM victims),
drops_in AS (
  SELECT src_b AS source, count(*)::BIGINT AS v_in
  FROM victims GROUP BY src_b),
all_in AS (
  SELECT g.src_a AS source, count(*)::BIGINT AS v_saved
  FROM (SELECT doc_b, src_b, src_a, count(*)::BIGINT AS c
        FROM p_src GROUP BY doc_b, src_b, src_a) g
  JOIN victims v USING (doc_b, src_b)
  WHERE g.c = v.tb AND g.src_a <> g.src_b
  GROUP BY g.src_a)
SELECT p.source, p.n_docs, p.n_tokens,
       (t.tt - p.n_tokens)::DOUBLE / (t.tn - p.n_docs) AS mean_tokens_without,
       (tv.tv - coalesce(d.v_in, 0) - coalesce(a.v_saved, 0))::BIGINT
         AS drops_without,
       (tv.tv - coalesce(d.v_in, 0) - coalesce(a.v_saved, 0))::DOUBLE
         / (t.tn - p.n_docs) AS dup_rate_without,
       ((tv.tv - coalesce(d.v_in, 0) - coalesce(a.v_saved, 0))::DOUBLE
         / (t.tn - p.n_docs)) - (tv.tv::DOUBLE / t.tn) AS delta_dup_rate
FROM per p
LEFT JOIN drops_in d USING (source)
LEFT JOIN all_in a USING (source)
CROSS JOIN tot t CROSS JOIN total_victims tv
ORDER BY p.source""")
}
