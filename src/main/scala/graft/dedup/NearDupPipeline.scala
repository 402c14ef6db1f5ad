package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate detection + clustering (the north_rule flagship):
  *
  *   1. exact-dup collapse (content-hash groupBy, min-id election)   — J1/J2
  *   2. MinHash/LSH banding candidates over distinct-content reps    — north_star
  *   3. SimHash Hamming-ball candidates (recall supplement)          — north_star
  *   4. shared exact-Jaccard verification of the candidate union     — F-ops
  *   5. connected components → cluster = min(doc_id)                 — restart loop
  *
  * Every candidate source feeds the SAME verifier, so additional probes can
  * only add recall, never precision loss vs the exact-Jaccard oracle.
  */
object NearDupPipeline {

  /** Pipeline handle. `pairs`/`exactEdges` are plans over persisted
    * intermediates; `assignments` is LAZY — a pairs-only caller never pays
    * connected components (whose local-vs-distributed dispatch must count
    * the edge set eagerly). `close()` releases the persisted frames once the
    * caller has materialized what it needs.
    */
  final class Result private[NearDupPipeline](
      spark: SparkSession,
      nodes: DataFrame,
      val pairs: DataFrame,       // verified near-dup pairs (a, b, jac)
      val exactEdges: DataFrame,  // exact-dup edges (a, b)
      mkMetrics: () => DataFrame,
      persisted: Seq[DataFrame]) {
    /** (id, cluster) for every input doc — clustering runs on first access. */
    lazy val assignments: DataFrame = ConnectedComponents.assignAll(spark, nodes,
      exactEdges.select("a", "b").union(pairs.select("a", "b")))
    lazy val metrics: DataFrame = mkMetrics()
    /** Unpersist pipeline intermediates (results computed from them stay
      * valid — they recompute if re-evaluated after close). */
    def close(): Unit = persisted.foreach(_.unpersist())
  }

  def run(spark: SparkSession, docs: DataFrame, cfg: DedupConfig = DedupConfig(),
          idCol: String = "doc_id", textCol: String = "text"): Result = {

    // 1. exact collapse — skew guard + work reduction for every later stage
    val exact = ExactDedup.assignments(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exactEdges = ExactDedup.edges(exact)
    val reps = docs.join(
      exact.filter(col("doc_id") === col("rep")).select(col("doc_id").as(idCol)),
      Seq(idCol))

    // 2+3. candidate generation on distinct-content representatives only —
    // ONE fused feature scan (shingles + minhash + simhash share the
    // tokenization pass and one persisted table). Both probe sources emit
    // salted 64-bit (key, doc_id) rows, unioned BEFORE the bucket
    // aggregation: one shuffle + one distinct for all candidate generation.
    val feats = MinHashLSH.featuresFused(reps, cfg, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyRows = MinHashLSH.bandKeyRows(feats, cfg).union(
      SimHashDedup.keyRows(feats.select(col("doc_id"), col("sim64")), cfg))
    val cand = MinHashLSH.pairsFromKeyRows(keyRows, cfg)

    // 4. one verifier for all candidate sources
    val pairs = MinHashLSH.verifiedPairs(feats, cand, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 5. clustering (lazy, inside Result) over exact ∪ near edges; every
    // input doc is a node
    val nodes = docs.select(col(idCol).as("id"))

    // lazy metrics plan — counts only run if the caller materializes it
    def metrics = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(reps.agg(count(lit(1)).as("n_distinct_text")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_near_pairs")))
    new Result(spark, nodes, pairs, exactEdges, () => metrics,
      Seq(exact, feats, pairs))
  }
}
