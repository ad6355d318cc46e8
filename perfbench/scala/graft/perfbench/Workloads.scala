package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.analytics.Queries
import graft.dedup.{Dedup, DocIndex, DupClusters, MinHashLsh, SegmentDedup, SimHash}
import graft.ingest.Ingest
import graft.plans.MvRewriteQueries
import graft.similarity.{IvfIndex, IvfPq, KCenterCoreset, PcaPower, RandomHyperplaneLsh, Similarity}
import graft.streaming.IncrementalIngest
import graft.text.Curate
import graft.warehouse.{Reports, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** The three workloads. Each returns the wall of its timed work in seconds
  * and fills the [[Report]].
  */
object Workloads {
  type Fn = (SparkSession, String) => DataFrame

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The reference's reporting surface: q01..q12 (+ the top-N report
    * forms), readme_*, mv_* and rpt_*. TPC-H q1..q22 are left out: with
    * them one cold pass takes about 37 s on 4 cores, which a run cannot
    * hold next to the warehouse build and still repeat.
    */
  def reportSurface: Seq[(String, Fn)] = (Queries.all ++ Reports.all).toSeq.sortBy(_._1)

  /** Per-layer metrics of the query calls in the traced passes. */
  private def callLayers(ctx: Ctx, r: Report, traced: Seq[Sample]): Unit = {
    def ph(k: String) = traced.map(_.phases.getOrElse(k, 0.0))
    val n = math.max(1, traced.size).toDouble
    val exec = new GroupStats
    traced.foreach(s => exec.add(s.exec))
    val cons = new GroupStats
    traced.foreach(s => cons.add(s.construct))
    val execMs = ph("exec_ms").sum
    r.layers ++= Seq(
      "analytics.construct_ms" -> median(ph("construct_ms")),
      "analytics.construct_jobs" -> cons.jobs / n,
      "plans.analyze_ms" -> median(ph("analyze_ms")),
      "plans.optimize_ms" -> median(ph("optimize_ms")),
      "plans.physical_ms" -> median(ph("physical_ms")),
      "plans.top_rule_ms" -> median(ph("top_rule_ms")),
      "exec.ms" -> median(ph("exec_ms")),
      "exec.jobs" -> exec.jobs / n,
      "exec.single_task_jobs" -> exec.singleTaskJobs / n,
      "exec.tasks" -> exec.tasks / n,
      "exec.task_ms" -> exec.taskMs / n,
      "exec.parallel_eff" -> (if (execMs > 0) exec.taskMs / (execMs * ctx.cores) else 0.0),
      "exec.gc_ms" -> exec.gcMs / n,
      "exec.shuffle_write_bytes" -> exec.shuffleWriteBytes / n,
      "exec.spill_bytes" -> exec.spillBytes / n,
      "exec.scan_bytes" -> exec.scanBytes / n)
  }

  /** Traced time over untraced time, per call name, for the timed query
    * calls that ran both ways (traced runs alternate the two).
    */
  private def overhead(timed: Seq[Sample]): Double = {
    def byName(ss: Seq[Sample]) =
      ss.filter(_.ok).groupBy(_.name).map { case (k, v) => k -> median(v.map(_.wallS)) }
    val p = byName(timed.filter(!_.traced))
    val t = byName(timed.filter(_.traced))
    val both = p.keySet.intersect(t.keySet).toSeq
    val den = both.map(p).sum
    if (den > 0) both.map(t).sum / den else 1.0
  }

  private def timedSince(ctx: Ctx, first: Int): Seq[Sample] =
    ctx.calls.samples.drop(first).filter(_.kind == "timed").toSeq

  // ---------------------------------------------------------------- reports

  /** Size of a seeded sample of calls (half of warehouse_reports' surface):
    * a traced run repeats it plain and traced to measure the tracing
    * overhead, and curation_build keeps its outputs for the gate.
    */
  val SampleQueries = 13

  /** Nominal seconds of one timed pass over the report surface, about what
    * a pass takes on 4 cores (see [[Ctx.units]]): `--seconds 12` times one.
    */
  val PassSeconds = 12.0

  def warehouseReports(ctx: Ctx, r: Report): Double = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/base"
    val (_, whS) = ctx.time(Warehouse.forDir(spark, dir))
    val (_, mvS) = ctx.time(MvRewriteQueries.prewarm(spark, dir))
    r.setup("warehouse") = whS
    r.setup("mv_prewarm") = mvS
    val written = Bytes.artifacts(spark, dir)
    r.writeAmps += written.toDouble / Bytes.under(Paths.get(dir))
    r.layers ++= Seq("warehouse.materialize_ms" -> whS * 1e3,
      "warehouse.mv_prewarm_ms" -> mvS * 1e3,
      "warehouse.bytes_written" -> written.toDouble)
    // setup ends with one untimed warm-up pass, which also keeps every
    // query's output for the correctness gate
    val surface = reportSurface
    val rng = new scala.util.Random(ctx.seed)
    val oracle = SparkEntry.oracleSql
    r.setup("warmup") = ctx.time(rng.shuffle(surface).foreach { case (name, f) =>
      ctx.calls.step(name, "warmup") {
        r.outputs += ((name, ctx.keep(f(spark, dir), name), oracle(name), ctx.baseViews(dir)))
      }
    })._2
    // timed: a fixed number of whole passes over the surface, each in a
    // seeded order (a whole pass is the unit, so every run times the same mix)
    val first = ctx.calls.samples.size
    val (_, measured) = ctx.time((1 to ctx.units(PassSeconds)).foreach { _ =>
      r.rounds += ctx.time(rng.shuffle(surface).foreach { case (name, f) =>
        ctx.calls.query(name, "timed")(f(spark, dir))
      })._2
    })
    val timed = timedSince(ctx, first)
    if (ctx.calls.traced) {
      callLayers(ctx, r, timed.filter(_.ok))
      // a sample of the calls once more, plain and traced in a seeded order
      val both = rng.shuffle(surface).take(SampleQueries).flatMap { case (name, f) =>
        (if (rng.nextBoolean()) Seq(false, true) else Seq(true, false))
          .map(t => ctx.calls.query(name, "overhead", t)(f(spark, dir)))
      }
      r.layers("trace.overhead_ratio") = overhead(both)
    }
    measured
  }

  // ----------------------------------------------------------------- ingest

  /** The consumers that re-read the staged feed after every landing. */
  private val etlConsumers: Seq[(String, Fn)] = Seq(
    "etl_cleanse" -> (Ingest.cleanse _),
    "etl_quarantine" -> (Ingest.quarantine _),
    "etl_dq_summary" -> (Ingest.dqSummary _))

  /** One landing area with its staged feed, checkpoints and sinks. */
  final class IngestRound(ctx: Ctx) {
    val base: String = ctx.dir("ingest")
    val landing: String = ctx.dir("ingest", "landing")
    /** The staged feed, laid out so `Tables.events(view)` reads it. */
    val view: String = ctx.dir("ingest", "view")
    val staging = s"$view/events.parquet"
    val landed = ArrayBuffer.empty[String]
    val progress = ArrayBuffer.empty[StreamingQueryProgress]

    /** Land one batch file, stage it, run the consumers. Returns landed rows. */
    def batch(file: File, kind: String, traceConsumers: Boolean = false): Long = {
      val spark = ctx.spark
      val calls = ctx.calls
      val dst = Paths.get(landing, file.getName)
      val tmp = Paths.get(base, s".${file.getName}")
      Files.copy(file.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      landed += dst.toString
      calls.step("stage", kind) {
        IncrementalIngest.withStreamPartitions(spark) { ss =>
          val q = IncrementalIngest.stage(ss, landing, staging, s"$base/ckpt_stage")
          q.awaitTermination()
          progress ++= q.recentProgress
        }
      }
      etlConsumers.foreach { case (name, f) =>
        calls.query(name, kind, traceConsumers)(f(spark, view)) }
      calls.step("windowed_counts", kind) {
        IncrementalIngest.withStreamPartitions(spark) { ss =>
          IncrementalIngest.windowedCounts(ss, staging, s"$base/wc_out", s"$base/ckpt_wc")
            .awaitTermination()
        }
      }
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(dst.toString)).getBlocks
        .toArray(Array.empty[org.apache.parquet.hadoop.metadata.BlockMetaData])
        .map(_.getRowCount).sum
    }
  }

  /** Nominal seconds of one timed batch, about what a batch takes on 4
    * cores (see [[Ctx.units]]): `--seconds 12` times three.
    */
  val BatchSeconds = 4.0

  def incrementalIngest(ctx: Ctx, r: Report): Double = {
    val spark = ctx.spark
    val batches = new File(s"${ctx.data}/ingest").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    // setup lands the first batch: it pays the session's first stream
    // starts, state-store commits and consumer plans; the timed work then
    // lands a fixed number of the following batches, one at a time, into
    // the same round
    val round = new IngestRound(ctx)
    r.setup("first_batch") = ctx.time(round.batch(batches.head, "setup"))._2
    val first = ctx.calls.samples.size
    val batchS = ArrayBuffer.empty[Double]
    var rows = 0L
    def written = Bytes.under(Paths.get(round.base)) - Bytes.under(Paths.get(round.landing))
    val (_, measured) = ctx.time(batches.tail.take(ctx.units(BatchSeconds)).foreach { file =>
      val traceThis = ctx.calls.traced && batchS.size % 2 == 1
      val before = written
      val (n, s) = ctx.time(round.batch(file, "timed", traceThis))
      r.writeAmps += (written - before).toDouble / file.length
      rows += n
      batchS += s
    })
    r.rounds ++= batchS
    // gate: the staged feed and every sink against a batch recompute over
    // the distinct union of what was landed
    val union = round.landed.map(p => s"'$p'").mkString("[", ", ", "]")
    val events = Map("events" -> s"SELECT DISTINCT * FROM read_parquet($union)")
    val oracle = SparkEntry.oracleSql
    r.outputs += (("ingest_staged",
      ctx.keep(Tables.events(spark, round.view), "ingest_staged"),
      "SELECT * FROM events", events))
    r.outputs += (("stream_windowed_counts",
      ctx.keep(spark.read.parquet(s"${round.base}/wc_out")
        .select(unix_micros(col("window_start")).as("window_start_t"),
          unix_micros(col("window_end")).as("window_end_t"),
          col("event_type"), col("n"), col("total_value")), "stream_windowed_counts"),
      oracle("stream_windowed_counts"), events))
    etlConsumers.foreach { case (name, f) =>
      r.outputs += ((name, ctx.keep(f(spark, round.view), name), oracle(name), events))
    }
    if (ctx.calls.traced) {
      val timed = timedSince(ctx, first)
      def med(name: String) = median(timed.filter(s => s.ok && s.name == name).map(_.wallS * 1e3))
      val progress = round.progress.toSeq
      def dur(k: String) = median(progress.filter(_.numInputRows > 0)
        .map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val ops = progress.flatMap(_.stateOperators.headOption)
      def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k))
        .map(_.doubleValue).getOrElse(0.0)).sum
      val quarantined = Ingest.quarantine(spark, round.view).count()
      r.layers ++= Seq(
        "ingest.cleanse_ms" -> med("etl_cleanse"),
        "ingest.rows_in" -> rows.toDouble / math.max(1, batchS.size),
        "ingest.rows_quarantined" -> quarantined.toDouble,
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.plan_ms" -> dur("queryPlanning"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.commit_ms" -> (dur("walCommit") + dur("commitOffsets")),
        "streaming.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.rows_dropped_dup" -> custom("numDroppedDuplicateRows"),
        "streaming.checkpoint_bytes" -> (Bytes.under(Paths.get(round.base, "ckpt_stage")) +
          Bytes.under(Paths.get(round.base, "ckpt_wc"))).toDouble)
      r.layers("trace.overhead_ratio") = overhead(timed)
    }
    measured
  }

  // --------------------------------------------------------------- curation

  /** The artifact chain `graft.Bench.populate` builds for the curation
    * families, in dependency order: (layer metric, build call).
    */
  val chain: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "dedup.doc_index_ms" -> ((s, d) => DocIndex.forDir(s, d)),
    "dedup.pairs_ms" -> ((s, d) => Dedup.pairsForDir(s, d)),
    "dedup.capped_pairs_ms" -> ((s, d) => Dedup.cappedPairsForDir(s, d)),
    "dedup.edit_pairs_ms" -> ((s, d) => SegmentDedup.editPairsForDir(s, d)),
    "dedup.prefix_pairs_ms" -> ((s, d) => Dedup.prefixPairsForDir(s, d)),
    "dedup.containment_ms" -> ((s, d) => Dedup.containmentForDir(s, d)),
    "dedup.minhash_ms" -> ((s, d) => MinHashLsh.sigsForDir(s, d)),
    "dedup.simhash_ms" -> ((s, d) => SimHash.fpForDir(s, d)),
    "dedup.clusters_ms" -> ((s, d) => DupClusters.clusters(s, d)),
    "similarity.ivf_ms" -> ((s, d) => IvfIndex.build(s, d)),
    "similarity.ivfpq_ms" -> ((s, d) => IvfPq.postings(s, d)),
    "similarity.lsh_ms" -> ((s, d) => RandomHyperplaneLsh.index(s, d)),
    "text.overlap_grams_ms" -> ((s, d) => Curate.overlapGrams(s, d)),
    "similarity.pca_ms" -> ((s, d) => PcaPower.loadingsRow(s, d)),
    "similarity.kcenter_ms" -> ((s, d) => KCenterCoreset.centersForDir(s, d)))

  /** Consumer queries that read the chain's artifacts. */
  def curationConsumers: Seq[(String, Fn)] =
    SparkEntry.queries.toSeq.filter { case (n, _) =>
      n.startsWith("dedup_") || n.startsWith("sim_") }.sortBy(_._1)

  /** Nominal seconds of one curation round (see [[Ctx.units]]). */
  val CurationRoundSeconds = 60.0

  def curationBuild(ctx: Ctx, r: Report): Double = {
    val spark = ctx.spark
    val consumers = curationConsumers
    val rng = new scala.util.Random(ctx.seed)
    val first = ctx.calls.samples.size
    // timed: a fixed number of rounds of (artifact chain on a fresh copy of
    // the corpus, so no memo hits, then one seeded pass of the consumers)
    var d = ""
    val (_, measured) = ctx.time((1 to ctx.units(CurationRoundSeconds)).foreach { _ =>
      d = ctx.dir("curation", f"c${r.rounds.size}%03d")
      ctx.copyTables(s"${ctx.data}/base", d,
        n => n != "documents.parquet" && n != "embeddings.parquet")
      ctx.copyTables(s"${ctx.data}/curation", d)
      r.rounds += chain.map { case (name, f) => ctx.calls.step(name, "build")(f(spark, d)) }
        .map(_.wallS).sum
      rng.shuffle(consumers).foreach { case (name, f) =>
        ctx.calls.query(name, "timed")(f(spark, d)) }
    })
    val timed = timedSince(ctx, first)
    r.writeAmps += Bytes.artifacts(spark, d).toDouble /
      Seq("documents.parquet", "embeddings.parquet").map(n => Files.size(Paths.get(d, n))).sum
    val oracle = SparkEntry.oracleSql
    val sample = rng.shuffle(consumers.filter(c => oracle.contains(c._1))).take(SampleQueries)
    sample.foreach { case (name, f) =>
      ctx.calls.step(name, "gate") {
        r.outputs += ((name, ctx.keep(f(spark, d), name), oracle(name), ctx.baseViews(d)))
      }
    }
    if (ctx.calls.traced) {
      val steps = ctx.calls.samples.filter(s => s.kind == "build" && s.ok).toSeq
      chain.foreach { case (name, _) =>
        r.layers(name) = median(steps.filter(_.name == name).map(_.wallS * 1e3)) }
      callLayers(ctx, r, timed.filter(_.ok))
      val candidates = Dedup.pairsForDir(spark, d).count().toDouble
      val verified = MinHashLsh.nearDuplicates(spark, d).count().toDouble
      val cells = IvfIndex.build(spark, d)._1.groupBy("cell").count()
        .agg(avg("count")).head.getDouble(0)
      val ann = IvfIndex.topK(spark, d).select("query_id", "neighbor_id")
      val exact = Similarity.bruteForceTopK(spark, d).select("query_id", "neighbor_id")
      r.layers ++= Seq("dedup.candidate_pairs" -> candidates,
        "dedup.verified_pairs" -> verified,
        "dedup.verify_yield" -> (if (candidates > 0) verified / candidates else 0.0),
        "similarity.probe_ms" -> median(timed.filter(s => s.ok && s.name == "sim_ivf_topk")
          .map(_.wallS * 1e3)),
        "similarity.candidates_per_probe" -> cells * IvfIndex.NProbe,
        "similarity.recall_at_k" ->
          ann.intersect(exact).count().toDouble / math.max(1L, exact.count()))
      val both = sample.flatMap { case (name, f) =>
        (if (rng.nextBoolean()) Seq(false, true) else Seq(true, false))
          .map(t => ctx.calls.query(name, "overhead", t)(f(spark, d)))
      }
      r.layers("trace.overhead_ratio") = overhead(both)
    }
    measured
  }
}
