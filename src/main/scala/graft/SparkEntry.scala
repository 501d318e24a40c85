package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All engine queries live in the typed registry (`graft.operators.*`); this
  * object flattens it into the driver's Map-based surface.
  */
object SparkEntry {

  /** Every named query the engine implements, in registration order. */
  def registry: Seq[GraftQuery] =
    Relational.all ++ TpcH.all ++ Scalar.all ++ EventWindows.all ++ Sampling.all ++
      Dedup.all ++ Similarity.all ++ TextAnalysis.all ++ Multimodal.all ++
      StreamingOps.all ++ Sources.all ++ Warehouse.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap

  /** Shared artifacts built once per (sf, JVM) and reused across queries:
    * replay spools, the d6 cluster-label spool, and the trained ANN index
    * models (unit-vector spool, k-means centroids, PQ codebooks). Bench
    * runs and times each BEFORE the query loop, reporting it as its own
    * `x_*` line, so the build cost stays attributable instead of being
    * discarded by the min-of-2 policy (VERDICT r6 item 2). Each build is
    * idempotent; consumers trigger it lazily anyway if Bench didn't. */
  def artifacts: Seq[(String, (SparkSession, String) => Unit)] =
    operators.StreamingOps.spoolArtifacts ++ Seq[(String, (SparkSession, String) => Unit)](
      "x_d6_labels_spool" ->
        ((s, d) => { operators.Dedup.clusterLabels(s, d).count(); () }),
      "x_d2_truth_spool" ->
        ((s, d) => { operators.Dedup.d2TruthPairs(s, d).count(); () }),
      "x_d37_lrs_spool" ->
        ((s, d) => { operators.Dedup.d37LrsSpool(s, d).count(); () }),
      "x_minhash_sig_spool" ->
        ((s, d) => { operators.Dedup.minhashSigs(s, d).count(); () }),
      "x_ann_unit_spool" ->
        ((s, d) => { operators.Similarity.unitVectors(s, d).count(); () }),
      "x_ann_kmeans_train" ->
        ((s, d) => { operators.Similarity.coarseCentroids(s, d); () }),
      "x_ann_pq_train" ->
        ((s, d) => { operators.Similarity.s8Codebooks(s, d); () }),
      "x_ann_ivfpq_train" ->
        ((s, d) => { operators.Similarity.s9Codebooks(s, d); () }),
      "x_ann_pca_train" ->
        ((s, d) => { operators.Similarity.pcaModel(s, d); () }),
      "x_compaction_spool" ->
        ((s, d) => { operators.Warehouse.compactionSpools(s, d); () }))

  /** Evict one artifact's memo so Bench's min-of-3 self-confirmation can
    * re-measure a flagged x_* line with FIRST-BUILD semantics (VERDICT
    * r13 item 1: the gate used to exempt artifacts — "memoized, can't
    * re-measure" — so a contaminated 8× artifact flag could never
    * self-silence the way query flags do). Each artifact is memoized under
    * its own x_* name, so a trained model evicts alone (its input spool is
    * a separate x_* line built earlier) and the rebuild measures exactly
    * the work the original line charged. */
  def evictArtifact(name: String, dir: String): Unit =
    operators.evict(name, dir)
}
