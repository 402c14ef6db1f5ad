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
    val nEdges = e.count()

    var converged = nEdges == 0 || isStarForest(e)
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
      e = large.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      converged = isStarForest(e) // one aggregate job per round
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents.run did not converge in $iter rounds over $nEdges edges")
    // star forest: (member, root); roots appear only as v
    val members = e.select(col("u").as("id"), col("v").as("comp"))
    val roots = e.select(col("v").as("id")).distinct().withColumn("comp", col("id"))
    members.union(roots).distinct()
  }

  /** The exact stop condition: `e` (oriented u > v) is a star forest — no
    * node is both a member (u) and a root (v), and every member has exactly
    * one root. Rounds preserve connectivity, so each star is then a whole
    * component, and its root, smaller than every member, is the component's
    * min id. One aggregate over the node roles, no hash of the edge set: a
    * checksum that merely repeats could stop early on a collision.
    */
  private[graft] def isStarForest(e: DataFrame): Boolean =
    e.select(col("u").as("n"), lit(1).as("member"))
      .union(e.select(col("v").as("n"), lit(0).as("member")))
      .groupBy("n").agg(sum("member").as("n_roots"), min("member").as("only_member"))
      .filter(col("n_roots") > 1 || (col("n_roots") === 1 && col("only_member") === 0))
      .isEmpty

  /** Union-find over long node ids that keeps each component's min label
    * (a node's own id, or a content_id it carries): path halving, union by
    * size, parent/size/label in parallel primitive arrays behind one
    * LongMap index. [[add]] and [[union]] only grow it, so a caller may keep
    * one instance and fold each batch of new nodes and edges into it.
    */
  final class UnionFind {
    private val index = scala.collection.mutable.LongMap.empty[Int]
    private var parent = new Array[Int](64)
    private var size = new Array[Int](64)
    private var label = new Array[Long](64)
    private var n = 0

    def contains(id: Long): Boolean = index.contains(id)

    /** Add `id` with label `l`, or lower an existing node's label to `l`. */
    def add(id: Long, l: Long): Unit = {
      val i = node(id, l)
      val r = find(i)
      if (l < label(r)) label(r) = l
    }

    /** Join the components of `a` and `b`; a node not yet added joins with
      * no label of its own (Long.MaxValue).
      */
    def union(a: Long, b: Long): Unit = {
      var ra = find(node(a, Long.MaxValue))
      var rb = find(node(b, Long.MaxValue))
      if (ra != rb) {
        if (size(ra) < size(rb)) { val t = ra; ra = rb; rb = t }
        parent(rb) = ra
        size(ra) += size(rb)
        if (label(rb) < label(ra)) label(ra) = label(rb)
      }
    }

    /** The min label over `id`'s component. */
    def labelOf(id: Long): Long = label(find(index(id)))

    def ids: Iterator[Long] = index.keysIterator

    private def node(id: Long, l: Long): Int = index.getOrElseUpdate(id, {
      if (n == parent.length) {
        parent = java.util.Arrays.copyOf(parent, 2 * n)
        size = java.util.Arrays.copyOf(size, 2 * n)
        label = java.util.Arrays.copyOf(label, 2 * n)
      }
      parent(n) = n; size(n) = 1; label(n) = l
      n += 1
      n - 1
    })

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
  }

  /** Driver union-find over a collected edge list: (id, min id of its
    * component) for every endpoint.
    */
  def localComponents(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val uf = new UnionFind
    for ((a, b) <- edges) { uf.add(a, a); uf.add(b, b); uf.union(a, b) }
    uf.ids.map(id => (id, uf.labelOf(id))).toArray
  }

  /** Cluster assignment for every node: (id, cluster) with cluster = min id
    * of the node's component (singletons map to themselves). Chooses the
    * driver union-find or the distributed star rounds by edge count
    * ([[graft.Regime.local]] at [[graft.Regime.SMALL_GRAPH_MAX]]).
    *
    * `knownEdgeCount`: callers that already know the (a ≠ b) edge count —
    * e.g. from committed store manifests — skip the eager persist+count
    * dispatch job; under `spark.graft.regime=distributed` no count runs.
    */
  def assignAll(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                knownEdgeCount: Option[Long] = None): DataFrame = {
    val e0 = edges.select(col("a"), col("b")).filter(col("a") =!= col("b"))
    val e = knownEdgeCount match {
      case Some(_) => e0
      case None => e0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val comps =
      if (graft.Regime.local(spark, knownEdgeCount.getOrElse(e.count()),
          graft.Regime.SMALL_GRAPH_MAX)) {
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
