package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's entry points (design in SURVEY.md §7).
  *
  * `queries` aggregates every implemented operator surface, one
  * [[QueryModule]] per family: [[graft.analytics.Queries]] (the reference's
  * 12-query analytics surface + matviews) plus the ETL/dedup/similarity/text
  * extensions. `oracleSql` carries the DuckDB twin for each hash-checked
  * entry; rows-only entries (non-SQL-expressible ops) are deliberately absent
  * from it.
  */
object SparkEntry {

  /** Flagship: Q2 (top diagnoses per age group) — window ranking over a
    * 4-way star join, the richest single reference query.
    */
  def entry(spark: SparkSession): DataFrame =
    analytics.Queries.q02TopDiagnosesByAgeGroup(spark, "/root/testdata/sf0.001")

  /** Every query module, each listed once; `queries` and `oracleSql` are
    * derived from this list (RegistryGuardSpec fails on a compiled module
    * missing here). Lazy, so [[entry]] initializes none of them.
    */
  lazy val modules: Seq[QueryModule] = Seq(
    analytics.Queries, analytics.TpchQueries, ingest.Ingest,
    text.TextAnalysis, text.Curate, dedup.Dedup, dedup.DupClusters,
    similarity.Similarity, multimodal.Multimodal, sources.Sources,
    streaming.Sessionize, analytics.WindowExtras, warehouse.Reports,
    warehouse.Scd2, functions.SkewJoin, functions.BottomK,
    warehouse.SnapshotFacts, analytics.GraphOps, warehouse.ZOrderLayout,
    analytics.EventSeq, text.TfIdf, similarity.Standardize, ingest.EtlExtras,
    analytics.TimeSeries, similarity.SemDedup, warehouse.IncrementalAgg,
    streaming.IncrementalIngest, warehouse.PartitionedFact, privacy.Privacy,
    analytics.CmSketch, warehouse.Bucketing, text.BpePairs,
    analytics.BloomSketch, analytics.HllSketch, warehouse.DataVault,
    analytics.SpatialGrid, dedup.SegmentDedup, text.Entropy,
    analytics.Scoring, ingest.DriftChecks, analytics.Reshape,
    similarity.Matryoshka, privacy.DpRelease, analytics.ValuePositions,
    ingest.FkOrphans, analytics.MarketBasket, warehouse.JunkDim,
    similarity.CentroidDrift, analytics.BitmapRollup, similarity.HubnessAnn,
    warehouse.FileManifest, warehouse.BloomManifest, text.PitFeatures,
    text.LengthBuckets, dedup.CdcChunks, text.LmCoverage,
    similarity.RrfFusion, similarity.JlProjection, text.UniMaxMix,
    warehouse.TimeTravel, warehouse.IvmJoin, analytics.LpaCommunities,
    text.BpeTrain, warehouse.BinPack, text.FeatureHash,
    warehouse.Expectations, similarity.HadamardRotation,
    privacy.EpsilonLedger, text.BigramNovelty, analytics.RfmSegments,
    similarity.GraphSearch, warehouse.Bitemporal, analytics.Skyline,
    similarity.FilteredAnn, text.DsirWeights, text.WeakLabels,
    similarity.KCenterCoreset, text.DomainKl, text.TrainingOrder,
    text.BoilerplateStrip, text.LmPerplexity, sources.NeymanAllocation,
    text.LfShapley, analytics.QDigest, similarity.PcaPower,
    analytics.Modularity, similarity.AbttResidual, analytics.PoissonBootstrap,
    warehouse.KeyCollision, text.SourceAblation, analytics.KsDistance,
    analytics.MannWhitney, analytics.HierReconcile, warehouse.FdDiscovery,
    warehouse.IndDiscovery, analytics.ChiSquare, analytics.SpearmanCorr,
    analytics.ConformalInterval, analytics.DailyOhlc, ingest.LatenessProfile,
    ingest.JsonOps, plans.JoinEliminationQueries, warehouse.SkewAdvisor,
    streaming.StreamNearDedup, observability.QueryMetrics,
    observability.ColumnLineage, observability.PlanFingerprint,
    warehouse.JoinAdvisor, ingest.ForgetFlow, plans.AsOfJoinQueries,
    sources.v2.GenQueries, streaming.TransformWithState, text.ChunkWindows,
    analytics.GroupingSets, analytics.OlsRegression, dedup.FuzzyJoin,
    plans.RerollQueries, plans.MvRewriteQueries, plans.MvWarehouseQueries,
    plans.EagerAggregationQueries, plans.UnionMergeQueries,
    plans.IvmSetQueries, warehouse.FileSkip)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(modules)(_.all)

  lazy val oracleSql: Map[String, String] = union(modules)(_.oracle)

  /** The modules' maps merged into one. A name declared by two modules is
    * an error naming both owners — a plain `++` would silently keep the
    * later one and strip the earlier query's gate coverage.
    */
  private[graft] def union[V](modules: Seq[QueryModule])(
      part: QueryModule => Map[String, V]): Map[String, V] = {
    val owned = for (m <- modules; (name, v) <- part(m))
      yield (name, m.moduleName, v)
    val dups = owned.groupBy(_._1).collect { case (name, os) if os.size > 1 =>
      s"$name <- ${os.map(_._2).mkString(", ")}"
    }
    require(dups.isEmpty,
      s"names declared by more than one module: ${dups.toSeq.sorted.mkString("; ")}")
    owned.map { case (name, _, v) => name -> v }.toMap
  }

  /** The local session every main runs on: `SPARK_GRAFT_CPUS` cores
    * (default 32) and as many shuffle partitions, UTC, no UI, WARN logs.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
