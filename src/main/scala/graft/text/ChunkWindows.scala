package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MINIMAL-COVER window chunking + per-chunk dedup ledger — the
  * embedding-spend planner beside [[TextAnalysis]]'s chunk family (SAME
  * geometry, [[TextAnalysis.ChunkW]]/[[TextAnalysis.ChunkS]] — one
  * definition for the whole repo):
  *
  *  - [[TextAnalysis.chunkWindows]] (`text_chunk_windows`) is the
  *    INVENTORY: a window starts every S tokens up to the last token, so
  *    trailing sub-windows repeat already-covered text;
  *  - this module's `text_chunk_cover` emits the minimal covering set —
  *    chunking STOPS at the first window that reaches the document end
  *    (`1 + ceil(max(n - W, 0) / S)` windows, only the last may run
  *    short), which at 100 TB is ~W/S× fewer chunks to embed for the same
  *    token coverage (ChunkWindowsSpec pins coverage + the count formula);
  *  - [[TextAnalysis.repeatedChunks]] (`text_repeated_chunks`) REPORTS
  *    hash groups repeated across documents; `text_chunk_dedup` here is
  *    the per-chunk KEEP LEDGER over the cover set (keeper = first
  *    (doc, idx), flag not filter) — the row-level verdict an embedding
  *    pipeline actually joins against before spending.
  *
  * [[graft.dedup.CdcChunks]] differs on the other axis: content-defined
  * variable cuts (dedup robust to byte shifts) vs these position-defined
  * model-consumption windows.
  *
  * Scale shape: chunking is one map-side HOF pass (`sequence` →
  * `transform`/`slice` inside codegen — no explode-then-window, no
  * shuffle); the dedup shuffles 16-byte hashes, never text.
  */
object ChunkWindows extends graft.QueryModule {

  /** Shared geometry — aliases of the repo-wide definition. */
  val ChunkTokens: Int = TextAnalysis.ChunkW
  val ChunkStride: Int = TextAnalysis.ChunkS

  private def chunked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = ChunkTokens
    val S = ChunkStride
    Tables.documents(spark, dir)
      .select($"doc_id", split(trim(lower($"text")), "\\s+").as("toks"))
      .withColumn("n", size($"toks"))
      .filter($"n" > 0)
      // ceil(max(n-W,0)/S) via exact integer arithmetic (DIV, not float)
      .withColumn("n_chunks",
        expr(s"CAST((greatest(n - $W, 0) + ${S - 1}) DIV $S AS INT) + 1"))
      .select($"doc_id", $"toks", $"n",
        posexplode(expr(s"transform(sequence(0, n_chunks - 1), i -> i * $S)")))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start_tok")
      .select($"doc_id", $"chunk_idx", $"start_tok",
        expr(s"slice(toks, start_tok + 1, $W)").as("chunk"))
      .select($"doc_id", $"chunk_idx", $"start_tok",
        size($"chunk").as("n_tokens"),
        md5(concat_ws(" ", $"chunk")).as("chunk_hash"))
  }

  /** Per-chunk inventory: one row per (doc, window). */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunked(spark, dir).orderBy($"doc_id", $"chunk_idx")
  }

  /** Exact-hash chunk dedup: repeated windows across the corpus (shared
    * boilerplate) are flagged, keeper = first (doc_id, chunk_idx) — the
    * pre-embedding dedup gate. Flag, not filter: unique corpora still
    * verify.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = chunked(spark, dir)
    val groups = c.groupBy($"chunk_hash".as("g_hash"))
      .agg(count(lit(1)).as("n_group"),
        min(struct($"doc_id", $"chunk_idx")).as("keeper"))
    c.join(groups, $"chunk_hash" === $"g_hash")
      .select($"doc_id", $"chunk_idx", $"chunk_hash", $"n_group",
        ($"doc_id" === $"keeper.doc_id" &&
          $"chunk_idx" === $"keeper.chunk_idx").as("keep"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_chunk_cover" -> (chunkWindows _),
    "text_chunk_dedup" -> (chunkDedup _))

  private def chunkCte: String = {
    val W = ChunkTokens
    val S = ChunkStride
    s"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents),
base AS (
  SELECT doc_id, t, len(t) AS n,
         ((greatest(len(t) - $W, 0) + ${S - 1}) // $S + 1)::INT AS n_chunks
  FROM toks WHERE len(t) > 0),
chunks AS (
  SELECT doc_id, i::INT AS chunk_idx, (i * $S)::INT AS start_tok,
         t[i * $S + 1 : i * $S + $W] AS chunk
  FROM base, LATERAL (SELECT unnest(range(0, n_chunks)) AS i))"""
  }

  val oracle: Map[String, String] = Map(
    "text_chunk_cover" -> s"""$chunkCte
SELECT doc_id, chunk_idx, start_tok,
       len(chunk)::INT AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_idx""",

    "text_chunk_dedup" -> s"""$chunkCte,
hashed AS (
  SELECT doc_id, chunk_idx,
         md5(array_to_string(chunk, ' ')) AS chunk_hash
  FROM chunks),
groups AS (
  SELECT chunk_hash, count(*)::BIGINT AS n_group,
         min(doc_id * 1000000 + chunk_idx) AS keeper
  FROM hashed GROUP BY chunk_hash)
SELECT h.doc_id, h.chunk_idx, h.chunk_hash, g.n_group,
       (h.doc_id * 1000000 + h.chunk_idx) = g.keeper AS keep
FROM hashed h JOIN groups g USING (chunk_hash)
ORDER BY h.doc_id, h.chunk_idx""")
}
