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
  * Execution shape: one [[Chain]] class, whose regime is decided once at
  * construction like [[ChunkDedup.Chain]]'s. On the driver path, [[elect]]
  * runs steps 1–4 over the checkpoint's flat Merkle tree and one label
  * pass; on the distributed path, steps 1–2 and step 4's relabel are Spark
  * projections, joins and a thin level sweep, and only the order-sensitive
  * steps 3–4 ([[pruneAndElect]]) run on the driver, over the collected
  * fresh-duplicated forest. Both are bounded by the checkpoint's chunk
  * count (the reference's whole approach is per-checkpoint, tree = one
  * buffer); at web scale the engine's unit of parallelism is documents,
  * not intra-checkpoint tree nodes.
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

    // 3+4. shared driver kernel (order-sensitive pruning + election) over
    // the fresh leaves and the forest's internals
    val winners = pruneAndElect(members(leafBase until 2 * n - 1), members(0 until leafBase))
    for (pos <- 0 until n if fresh(pos) == 1)
      labels(pos) = if (winners(key(slot(leaves, pos))) == leafBase + pos) FIRST else SHIFT
    (labels, winners)
  }

  /** Root-pruning fixpoint + lowest-root election over one checkpoint's
    * fresh-duplicated forest — the ONLY serial piece of the distributed
    * path, bounded by the number of FRESH nodes (not the checkpoint size).
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
  private[dedup] def pruneAndElect(leafMembers: Array[(Long, Digest)],
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
    * query's path (codegen murmur128, chunkify, chain wiring, the
    * distributed sweep when it engages) turns the driver row red.
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
    * election). Its regime is decided once, when the chain is built
    * ([[graft.Regime.local]] at [[graft.Regime.LOW_ROOT_LOCAL_MAX]]
    * chunks), and the labels are the same either way (TreeLowRootSpec
    * asserts parity at 4096 chunks):
    *   - driver: one job collects the leaf digests by position, and
    *     [[elect]] runs over the flat tree;
    *   - distributed: the Spark shape of the reference's device kernel
    *     (tree_low_root_approach.cpp:55-214). Leaf hashing, FIXED/SHIFT/
    *     fresh labeling and the FIRST_DUPL forest build (a thin level sweep,
    *     geometrically shrinking frontier) run as Spark jobs over (node,
    *     digest) rows; only the order-sensitive root-pruning fixpoint +
    *     election run on the driver, over the COLLECTED fresh-duplicated
    *     forest — O(#fresh nodes), which an incremental chain keeps ≪
    *     checkpoint size (checkpoint 0 is the worst case). A checkpoint
    *     with 10⁸ chunks and a few 10⁵ fresh ones never materializes the
    *     leaf set on the driver.
    */
  final class Chain(spark: SparkSession, numChunks: Long) {
    require(numChunks >= 1)
    private val leafBase = numChunks - 1
    /** previous checkpoint's leaf digests, 16-byte slots by position, and
      * the elected digests: the driver path's FIXED probe and map. */
    private var prevDigests: Array[Byte] = _
    private val elected = new java.util.HashSet[Digest]()
    /** previous checkpoint's leaves (node, digest) and the elected digests
      * (digest): the distributed path's FIXED probe and map. */
    private var prevLeaves: DataFrame = _
    private var global: DataFrame = _

    /** The chain's one regime choice. */
    private val driverElection =
      graft.Regime.local(spark, numChunks, graft.Regime.LOW_ROOT_LOCAL_MAX)

    def checkpoint(chunks: DataFrame): LowRootResult =
      if (driverElection) driverCheckpoint(chunks) else distributedCheckpoint(chunks)

    private def driverCheckpoint(chunks: DataFrame): LowRootResult = {
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

    private def globalOrEmpty(): DataFrame =
      if (global == null) {
        import spark.implicits._
        Seq.empty[Array[Byte]].toDF("digest")
      } else global

    private def distributedCheckpoint(chunks: DataFrame): LowRootResult = {
      import spark.implicits._
      val leaves = chunks
        .select((col("pos") + leafBase).as("node"),
          gf.murmur128(col("chunk")).as("digest"))
        .localCheckpoint(true)
      ChunkDedup.Chain.requirePermutation(
        leaves.select((col("node") - leafBase).as("pos")), numChunks)

      // 1. labeling (distributed): FIXED by position-equality vs previous
      // checkpoint; SHIFT by global-map semi-probe; FIRST_DUPL otherwise
      val (fixed, rest) =
        if (prevLeaves == null) (leaves.limit(0), leaves)
        else {
          val p = prevLeaves.select(col("node"), col("digest").as("pd"))
          val j = leaves.join(p, Seq("node"), "left")
          (j.filter(col("pd") === col("digest")).drop("pd"),
            j.filter(col("pd").isNull || col("pd") =!= col("digest")).drop("pd"))
        }
      val g = globalOrEmpty()
      val shiftedG = rest.join(g, Seq("digest"), "left_semi")
      val fresh = rest.join(g, Seq("digest"), "left_anti").localCheckpoint(true)

      // 2. FIRST_DUPL forest via the shared thin level sweep keeping every
      // pair: a parent forms iff BOTH children are forest nodes — order-free
      // (same fixpoint as the reference's descending-node serial loop)
      val (_, internalsDf) =
        ChunkDedup.thinSweep(fresh.select("node", "digest"), numChunks, identity)

      // 3+4. driver kernel over the collected FRESH forest only
      def collectPairs(df: DataFrame): Array[(Long, Digest)] =
        df.select("node", "digest") // USING-joins reorder columns upstream
          .collect().map(r => (r.getLong(0), key(r.getAs[Array[Byte]](1))))
      val winners = pruneAndElect(collectPairs(fresh), collectPairs(internalsDf))

      // relabel fresh leaves by the election (one broadcast-sized join)
      val winnersDf = winners.toSeq.map { case (d, n) => (d.toArray, n) }
        .toDF("digest", "win_node")
      val freshLab = fresh.join(winnersDf, Seq("digest"))
        .select(col("node"),
          when(col("node") === col("win_node"), FIRST).otherwise(SHIFT).as("label"))
      val labels = freshLab
        .union(fixed.select(col("node"), lit(FIXED).as("label")))
        .union(shiftedG.select(col("node"), lit(SHIFT).as("label")))
        .localCheckpoint(true)

      // elected digests enter the cross-checkpoint map (= all fresh leaf
      // digests; reference_impl.hpp:396-398)
      global = globalOrEmpty().unionByName(fresh.select("digest").distinct())
        .distinct().localCheckpoint(true)
      prevLeaves = leaves

      val byLabel = labels.groupBy("label").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      LowRootResult(labels,
        byLabel.getOrElse(FIRST, 0L),
        byLabel.getOrElse(SHIFT, 0L),
        byLabel.getOrElse(FIXED, 0L))
    }
  }
}
