package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf

/** J3 — TreeLowRoot election (the reference's third approach, SURVEY.md
  * §2.4): among identical fresh chunks, the winner is NOT the lowest leaf
  * (J2's atomic_min) but the leaf whose enclosing maximal fresh-duplicated
  * subtree ROOT has the lowest node index — the copy that anchors the
  * biggest deduplicable region.
  *
  * Mirrors /root/reference/include/reference_impl.hpp:265-399
  * (dedup_low_root_ref) and src/tree_low_root_approach.cpp:55-214:
  *
  *   1. leaf labels: FIXED (same digest, same position vs previous
  *      checkpoint), SHIFT (digest in the global first-occurrence map),
  *      FIRST_DUPL otherwise; fresh digests collect member lists;
  *   2. the FIRST_DUPL forest: a parent joins when BOTH children are
  *      FIRST_DUPL; its combined digest H(l‖r) also collects members;
  *   3. root pruning (reference_impl.hpp:348-372): members climb to their
  *      subtree root (while the parent's digest is still fresh-duplicated);
  *      if two members of one digest share a root, that root's digest is
  *      ERASED — iterated to fixpoint (an ambiguous root can't elect);
  *   4. election (reference_impl.hpp:375-399): per fresh digest, the member
  *      with the lowest surviving root becomes FIRST_OCUR; the rest are
  *      SHIFT_DUPL. This is `groupBy(digest).agg(min_by(leaf, root))` once
  *      roots are known — the Spark shape of the final step.
  *
  * Execution shape: like the reference's, single-device. [[Chain]] collects
  * the checkpoint's leaf digests and [[elect]] runs steps 1–4 on the
  * driver over the flat Merkle tree and one label pass. The reference's
  * whole approach is per-checkpoint (tree = one buffer); at web scale the
  * engine's unit of parallelism is documents, not intra-checkpoint tree
  * nodes.
  */
object TreeLowRoot {

  import ChunkDedup.{FIRST, FIXED, SHIFT}
  import ChunkDedup.Chain.{Digest, isFixed, key, labelPass, merkleTree, slot}

  /** One checkpoint's election result. */
  case class LowRootResult(
      labels: DataFrame,          // (node, label) per LEAF
      numFirstOcur: Long,         // leaves elected FIRST_OCUR
      numShiftDupl: Long,
      numFixedDupl: Long)

  /** Driver election core over one checkpoint's leaf digests, 16-byte
    * slots by position like the chunk chain's. The FIRST_DUPL forest and
    * its digests come from the checkpoint's Merkle tree
    * ([[ChunkDedup.Chain.merkleTree]]) and one [[ChunkDedup.Chain.labelPass]]:
    * a node is in the forest iff every leaf under it is FIRST_DUPL.
    * @param prev    previous checkpoint's leaf digests (null = baseline)
    * @param global  digests already in the cross-checkpoint first-occurrence
    *                map (probe)
    * @return (labels by position, winners: digest -> elected node)
    */
  private[dedup] def elect(leaves: Array[Byte], prev: Array[Byte],
                           global: Digest => Boolean): (Array[String], Map[Digest, Long]) = {
    val tree = merkleTree(leaves)
    val n = leaves.length / 16
    val leafBase = n - 1
    val labels = new Array[String](n) // leaf labels by position
    val fresh = new Array[Byte](n)    // 1 = FIRST_DUPL
    for (pos <- 0 until n) {
      if (isFixed(tree, prev, pos)) labels(pos) = FIXED
      else if (global(key(slot(leaves, pos)))) labels(pos) = SHIFT
      else fresh(pos) = 1
    }
    val (code, _) = labelPass(fresh)
    def members(nodes: Range) =
      nodes.iterator.filter(code(_) == 1).map(u => (u.toLong, key(slot(tree, u)))).toArray

    // 3+4. order-sensitive pruning + election over the fresh leaves and
    // the forest's internals
    val winners = pruneAndElect(members(leafBase until 2 * n - 1), members(0 until leafBase))
    for (pos <- 0 until n if fresh(pos) == 1)
      labels(pos) = if (winners(key(slot(leaves, pos))) == leafBase + pos) FIRST else SHIFT
    (labels, winners)
  }

  /** Root-pruning fixpoint + lowest-root election over one checkpoint's
    * fresh-duplicated forest.
    *
    * @param leafMembers fresh leaves (node, digest) — any order
    * @param internals   forest internal nodes (node, digest) — any order
    * @return digest → elected node, for every fresh leaf digest
    *
    * Member-list order replays the reference exactly: leaves in ascending
    * node order (the labeling loop), then internals in DESCENDING node
    * order (the bottom-up build loop) — the pruning scan is sensitive to it
    * (reference_impl.hpp:329-345).
    */
  private def pruneAndElect(leafMembers: Array[(Long, Digest)],
                            internals: Array[(Long, Digest)]): Map[Digest, Long] = {
    val nodeDigest = new java.util.HashMap[Long, Digest]()
    val firstDupl = new java.util.HashMap[Digest, java.util.ArrayList[Long]]()
    def addMember(d: Digest, node: Long): Unit =
      firstDupl.computeIfAbsent(d, _ => new java.util.ArrayList[Long]()).add(node)
    val leavesAsc = leafMembers.sortBy(_._1)
    leavesAsc.foreach { case (n, d) => nodeDigest.put(n, d); addMember(d, n) }
    internals.sortBy(x => -x._1).foreach { case (n, d) =>
      nodeDigest.put(n, d); addMember(d, n)
    }

    // root pruning to fixpoint (reference_impl.hpp:348-372)
    def climb(u: Long): Long = {
      var cur = u
      while (cur > 0 && {
        val p = (cur - 1) / 2
        val pd = nodeDigest.get(p)
        pd != null && firstDupl.containsKey(pd)
      }) cur = (cur - 1) / 2
      cur
    }
    // Faithful per-entry scan: track the MIN root seen so far; a member
    // whose root EQUALS the current min erases that root's digest and
    // restarts the entry. Entry order is the only freedom the C++ leaves to
    // the hash map — fixed here to byte-lexicographic digest order for
    // determinism.
    val entryOrder = {
      import scala.jdk.CollectionConverters._
      firstDupl.keySet().asScala.toSeq.sortBy(_.toArray.map(_ & 0xff).toSeq)(
        scala.math.Ordering.Implicits.seqOrdering[Seq, Int])
    }
    for (d <- entryOrder) {
      var found = true
      while (found && firstDupl.containsKey(d)) {
        found = false
        var root = Long.MaxValue
        val ms = firstDupl.get(d).iterator()
        while (!found && ms.hasNext) {
          val pr = climb(ms.next())
          if (pr < root) root = pr
          else if (pr == root) {
            firstDupl.remove(nodeDigest.get(root))
            found = true
          }
        }
      }
    }

    // election: lowest surviving root wins (reference_impl.hpp:375-399)
    val winners = scala.collection.mutable.Map.empty[Digest, Long]
    for ((_, d) <- leavesAsc if !winners.contains(d)) {
      val members = firstDupl.get(d)
      var bestRoot = Long.MaxValue; var select = Long.MaxValue
      val ms = members.iterator()
      while (ms.hasNext) {
        val u = ms.next()
        val r = climb(u)
        if (r < bestRoot) { bestRoot = r; select = u }
      }
      winners(d) = select
    }
    winners.toMap
  }

  /** Driver-pure chain replay over raw chunk bytes — ORACLE machinery (no
    * Spark in the execution path: digests via the pure-JVM murmur kernel,
    * labels via [[elect]]'s serial core). Returns each checkpoint's leaf
    * labels by position. SparkEntry dumps the replay so the DuckDB oracle
    * can pin `chunk_lowroot_labels` row-exactly: a drift anywhere in the
    * query's path (codegen murmur128, chunkify, chain wiring) turns the
    * driver row red.
    */
  def replayChain(steps: Seq[Array[Array[Byte]]]): Seq[Array[String]] = {
    val global = new java.util.HashSet[Digest]()
    var prev: Array[Byte] = null
    steps.map { chunkBytes =>
      val ds = chunkBytes.flatMap(graft.functions.Impl.murmur128Digest)
      val (labels, winners) = elect(ds, prev, global.contains)
      winners.keysIterator.foreach(global.add)
      prev = ds
      labels
    }
  }

  /** Stateful low-root dedup chain (like [[ChunkDedup.Chain]], with the J3
    * election): one collect gathers the leaf digests by position, and
    * [[elect]] runs over the flat tree. Like the reference's, the election
    * holds the whole checkpoint on the driver: O(n) at a chain's first
    * checkpoint, where every leaf is fresh and the forest can reach all
    * 2n−1 nodes (≈ 0.8 KB of driver heap per chunk there, measured at 2¹⁸
    * chunks: the collected rows, the tree and the boxed member map). A later
    * checkpoint holds no more: its forest spans only the leaves that are
    * neither FIXED nor SHIFT.
    */
  final class Chain(spark: SparkSession, numChunks: Long) {
    require(numChunks >= 1)
    private val leafBase = numChunks - 1
    /** previous checkpoint's leaf digests, 16-byte slots by position (the
      * FIXED probe), and the elected digests (the cross-checkpoint map). */
    private var prevDigests: Array[Byte] = _
    private val elected = new java.util.HashSet[Digest]()

    def checkpoint(chunks: DataFrame): LowRootResult = {
      val n = numChunks.toInt
      val rows = chunks
        .select(col("pos"), gf.murmur128(col("chunk")).as("digest")).collect()
      val leaves = new Array[Byte](16 * n)
      ChunkDedup.Chain.leafIndex(rows.map(_.getLong(0)), n).iterator.zip(rows.iterator)
        .foreach { case (p, r) => System.arraycopy(r.getAs[Array[Byte]](1), 0, leaves, 16 * p, 16) }
      val (labels, winners) = elect(leaves, prevDigests, elected.contains)
      // elected digests enter the cross-checkpoint map (reference inserts
      // the selected leaf, reference_impl.hpp:396-398; single-member fresh
      // digests elect themselves). Internal forest digests matter only for
      // restart reconstruction, which ChunkDedup.Chain provides.
      winners.keysIterator.foreach(elected.add)
      prevDigests = leaves
      import spark.implicits._
      LowRootResult(labels.indices.map(p => (leafBase + p, labels(p))).toDF("node", "label"),
        labels.count(_ == FIRST).toLong,
        labels.count(_ == SHIFT).toLong,
        labels.count(_ == FIXED).toLong)
    }
  }
}
