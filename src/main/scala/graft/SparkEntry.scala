package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory lives in per-module registries
  * (graft.ops / graft.streaming / graft.llmops); this object is the flat
  * driver-facing view: `queries` (Spark builders) and `oracleSql` (the
  * equivalent DuckDB SQL for the hash-check oracle).
  */
object SparkEntry {

  /** Every declared query, in SURVEY §2b order. */
  def registry: Seq[Q] =
    ops.Relational.all ++ ops.Analytic.all ++ ops.Extra.all ++
      ops.Timeseries.all ++ ops.EventAnalytics.all ++ ops.Scd.all ++
      ops.Skew.all ++ ops.Itemsets.all ++ ops.Observe.all ++
      plans.AsOfQueries.all ++ streaming.StreamOps.all ++
      ops.Udfs.all ++ llmops.Dedup.all ++ llmops.MinHashLSH.all ++
      llmops.DedupFamilies.all ++ llmops.DedupPipeline.all ++
      llmops.FullCuration.all ++
      llmops.Incremental.all ++
      llmops.IncrementalCuration.all ++
      llmops.Curation.all ++
      llmops.VectorSearch.all ++ llmops.LateInteraction.all ++
      llmops.Mmr.all ++ llmops.RetrievalEval.all ++ llmops.Rag.all ++
      llmops.EntityResolution.all ++ llmops.AllPairs.all ++
      llmops.Bitext.all ++
      llmops.Chunking.all ++ llmops.TextStats.all ++
      llmops.SimHash.all ++ llmops.Multimodal.all ++ llmops.ImagePhash.all ++
      llmops.MultimodalPipeline.all ++
      llmops.AudioFingerprint.all ++
      llmops.WebClean.all ++ llmops.HeavyHitters.all ++ llmops.Bpe.all ++
      llmops.LangModel.all ++ llmops.QualityModel.all ++ llmops.Unigram.all ++
      llmops.WordPiece.all ++
      llmops.Drift.all ++ llmops.Governance.all ++ llmops.Evals.all ++
      llmops.DawidSkene.all ++
      llmops.Overlap.all ++ llmops.Preference.all ++
      llmops.Kmv.all ++ llmops.Quantize.all ++ llmops.Coreset.all ++
      llmops.LabelProp.all ++ llmops.Silhouette.all ++
      llmops.Graph.all ++
      llmops.SetSim.all ++ sources.Compaction.all ++ sources.TimeTravel.all ++
      sources.ConcurrentCommit.all ++ sources.Wap.all ++
      sources.PartitionEvolution.all ++ sources.DeleteVectors.all ++
      sources.Catalog.all ++ sources.StatsMaintenance.all ++
      sources.Branching.all ++ sources.OrphanGc.all ++
      pipeline.ViewMaintenance.all ++ pipeline.ParseAudit.all ++
      pipeline.GoldMaintenance.all ++ pipeline.SchemaOps.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q05.build(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
