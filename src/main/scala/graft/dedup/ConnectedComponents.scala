package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a pair DataFrame via alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public algorithm). O(log n) rounds regardless of
  * component diameter; each star is a `groupBy(min)` + join back — no
  * neighborhood is ever materialized as an in-memory set, so a 10⁷-member
  * mega-component costs shuffle volume, not executor heap. Per-round
  * `localCheckpoint` truncates lineage (SURVEY.md §7.4).
  *
  * Reference analogue: the restart chain's iterative resolve-to-oldest loop
  * (/root/reference/src/tree_approach.cpp:943-1121) — generalized to min-id
  * cluster election so cluster_id = min(doc_id) is deterministic
  * (reference_impl.hpp:58-65 lowest-offset-wins policy).
  */
object ConnectedComponents {

  /** @param edges two columns `a`, `b` (undirected pairs, any orientation)
    * @return (id, comp) for every id in `edges`; comp = min id of component.
    * @throws IllegalStateException if `maxIter` rounds end unconverged — a
    *         partial star forest would give wrong cluster ids silently.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // canonical orientation: u > v
    var e = edges
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var sig = checksum(e)
    val nEdges = sig._1

    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // u > v by construction
      // small-star: every (smaller) neighbor of u links to min(N(u)); u too
      val mins2 = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)

      val newSig = checksum(small) // one aggregate per round; prior sig cached
      converged = newSig == sig
      sig = newSig
      e = small
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents.run did not converge in $iter rounds over $nEdges edges")
    // star forest: (member, root); roots appear only as v
    val members = e.select(col("u").as("id"), col("v").as("comp"))
    val roots = e.select(col("v").as("id")).distinct().withColumn("comp", col("id"))
    members.union(roots).distinct()
  }

  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)),
      coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Edge sets up to this size run as driver union-find (one collect, ~ms);
    * beyond it the distributed star rounds run. 2M edges × 16 B ≈ 32 MB —
    * comfortably driver-safe; at web scale the distributed path engages.
    */
  final val SMALL_GRAPH_MAX: Long = 2L * 1000 * 1000

  /** Driver union-find over a collected edge list (min-id representative). */
  def localComponents(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
    SerialOracle.clusters(ids, edges)
  }

  /** Cluster assignment for every node: (id, cluster) with cluster = min id
    * of the node's component (singletons map to themselves). Chooses the
    * local or distributed path by edge count (`smallGraphMax = 0` forces
    * the distributed star rounds).
    *
    * `knownEdgeCount`: callers that already know the (a ≠ b) edge count —
    * e.g. from committed store manifests — skip the eager persist+count
    * dispatch job.
    */
  def assignAll(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                smallGraphMax: Long = SMALL_GRAPH_MAX,
                knownEdgeCount: Option[Long] = None): DataFrame = {
    val e0 = edges.select(col("a"), col("b")).filter(col("a") =!= col("b"))
    val e = knownEdgeCount match {
      case Some(_) => e0
      case None => e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val nEdges = knownEdgeCount.getOrElse(e.count())
    val comps =
      if (nEdges <= smallGraphMax) {
        import spark.implicits._
        val local = localComponents(
          e.collect().map(r => (r.getLong(0), r.getLong(1))))
        local.toSeq.toDF("id", "comp")
      } else run(spark, e) // eager per-round localCheckpoints: no e dependence after return
    if (knownEdgeCount.isEmpty) e.unpersist() // comps no longer references e
    val out = nodes.select(col(nodes.columns.head).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
    out
  }
}
