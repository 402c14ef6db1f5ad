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
  * Execution shape: steps 1 and 4's relabel are Spark projections/joins;
  * steps 2–3 are a per-checkpoint TREE fixpoint over the fresh-duplicated
  * digest table, which is bounded by the checkpoint's chunk count (the
  * reference's whole approach is per-checkpoint, tree = one buffer) — run
  * on the driver over collected (node, digest) pairs like the Chain's local
  * fast path. At web scale the engine's unit of parallelism is documents,
  * not intra-checkpoint tree nodes.
  */
object TreeLowRoot {

  import ChunkDedup.{FIRST, FIXED, SHIFT}

  /** One checkpoint's election result. */
  case class LowRootResult(
      labels: DataFrame,          // (node, label) per LEAF
      numFirstOcur: Long,         // leaves elected FIRST_OCUR
      numShiftDupl: Long,
      numFixedDupl: Long)

  private type Digest = scala.collection.immutable.ArraySeq[Byte]
  private def key(d: Array[Byte]): Digest =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(d)

  /** Serial election core over one checkpoint's leaf digests (by position).
    * @param prev    previous checkpoint's leaf digests (None = baseline)
    * @param global  digests already in the cross-checkpoint first-occurrence
    *                map (probe)
    * @return (labels by position, winners: digest -> elected node)
    */
  def elect(leaves: Array[Array[Byte]],
            prev: Option[Array[Array[Byte]]],
            global: Digest => Boolean): (Array[String], Map[Digest, Long]) = {
    val n = leaves.length
    val leafBase = n - 1
    val numNodes = 2 * n - 1
    // digest per built node (leaves + FIRST_DUPL forest internals)
    val nodeDigest = new java.util.HashMap[Long, Digest]()
    val labels = new Array[String](n) // leaf labels by position
    val firstDupl = new java.util.HashMap[Digest, java.util.ArrayList[Long]]()
    def addMember(d: Digest, node: Long): Unit =
      firstDupl.computeIfAbsent(d, _ => new java.util.ArrayList[Long]()).add(node)

    val isFirstDupl = new java.util.HashSet[Long]()
    val freshLeaves = Array.newBuilder[(Long, Digest)]
    for (pos <- 0 until n) {
      val node = leafBase + pos
      val d = key(leaves(pos))
      nodeDigest.put(node, d)
      if (prev.exists(p => java.util.Arrays.equals(p(pos), leaves(pos)))) {
        labels(pos) = FIXED
      } else if (global(d)) {
        labels(pos) = SHIFT
      } else {
        labels(pos) = "FIRST_DUPL"
        addMember(d, node)
        isFirstDupl.add(node)
        freshLeaves += ((node.toLong, d))
      }
    }

    // 2. FIRST_DUPL forest, bottom-up in DESCENDING node order
    // (reference_impl.hpp:329-345)
    val internals = Array.newBuilder[(Long, Digest)]
    var node = n - 2
    while (node >= 0) {
      val l = 2L * node + 1; val r = 2L * node + 2
      if (isFirstDupl.contains(l) && isFirstDupl.contains(r)) {
        val pd = key(graft.functions.Impl.murmur128Digest(
          nodeDigest.get(l).toArray ++ nodeDigest.get(r).toArray))
        nodeDigest.put(node.toLong, pd)
        isFirstDupl.add(node.toLong)
        internals += ((node.toLong, pd))
      }
      node -= 1
    }

    // 3+4. shared driver kernel (order-sensitive pruning + election)
    val winners = pruneAndElect(freshLeaves.result(), internals.result())
    for (pos <- 0 until n if labels(pos) == "FIRST_DUPL") {
      val d = nodeDigest.get((leafBase + pos).toLong)
      labels(pos) = if (winners(d) == leafBase + pos) FIRST else SHIFT
    }
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
    var prev: Option[Array[Array[Byte]]] = None
    steps.map { chunkBytes =>
      val ds = chunkBytes.map(graft.functions.Impl.murmur128Digest)
      val (labels, winners) = elect(ds, prev, global.contains)
      winners.keysIterator.foreach(global.add)
      prev = Some(ds)
      labels
    }
  }

  object DistChain {
    /** Checkpoints up to this many chunks dispatch to the serial [[Chain]]
      * (output-identical, spec-gated): the distributed sweep pays ~log n
      * rounds of eager tiny jobs — pure stage latency at toy scale, the
      * right shape only when one checkpoint's chunk count exceeds
      * driver-collectable size. Mirrors ChunkDedup.Chain.LOCAL_SWEEP_MAX.
      */
    final val LOCAL_MAX: Long = 1L << 16
  }

  /** DISTRIBUTED low-root chain — the Spark shape of the reference's device
    * kernel (tree_low_root_approach.cpp:55-214): leaf hashing, FIXED/SHIFT/
    * fresh labeling and the FIRST_DUPL forest build (root pointers carried
    * level-by-level through a thin sweep, geometrically shrinking frontier)
    * all run as Spark jobs over (node, digest) rows; only the
    * order-sensitive root-pruning fixpoint + election run on the driver,
    * over the COLLECTED fresh-duplicated forest — O(#fresh nodes), which an
    * incremental chain keeps ≪ checkpoint size (checkpoint 0 is the worst
    * case). Output-identical to the serial [[Chain]] (TreeLowRootSpec
    * asserts parity at 4096 chunks); a checkpoint with 10⁸ chunks and a few
    * 10⁵ fresh ones never materializes the leaf set on the driver.
    *
    * Below `localMax` chunks the whole checkpoint dispatches to the serial
    * [[Chain]] (identical output; the spec forces the distributed path with
    * localMax = 0).
    */
  final class DistChain(spark: SparkSession, numChunks: Long,
                        localMax: Long = DistChain.LOCAL_MAX) {
    require(numChunks >= 1)
    private val leafBase = numChunks - 1
    private var prevLeaves: DataFrame = _ // (node, digest)
    private var global: DataFrame = _     // (digest) — cross-checkpoint map
    private val serialFastPath: Option[Chain] =
      if (numChunks <= localMax) Some(new Chain(spark, numChunks)) else None

    private def globalOrEmpty(): DataFrame =
      if (global == null) {
        import spark.implicits._
        Seq.empty[Array[Byte]].toDF("digest")
      } else global

    def checkpoint(chunks: DataFrame): LowRootResult =
      serialFastPath match {
        case Some(c) => c.checkpoint(chunks)
        case None    => distCheckpoint(chunks)
      }

    private def distCheckpoint(chunks: DataFrame): LowRootResult = {
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

  /** Stateful low-root dedup chain (chunk-size-1 style golden harness, like
    * ChunkDedup.Chain but with the J3 election). Leaf hashing runs through
    * the same murmur128 kernel/expressions; the per-checkpoint tree fixpoint
    * runs on the driver (bounded by the checkpoint's chunk count).
    */
  final class Chain(spark: SparkSession, numChunks: Long) {
    private var prev: Option[Array[Array[Byte]]] = None
    private val globalMap = new java.util.HashSet[Digest]()

    def checkpoint(chunks: DataFrame): LowRootResult = {
      val rows = chunks
        .select(col("pos"), gf.murmur128(col("chunk")).as("digest")).collect()
      val leaves = new Array[Array[Byte]](rows.length)
      ChunkDedup.Chain.leafIndex(rows.map(_.getLong(0)), numChunks.toInt).iterator
        .zip(rows.iterator).foreach { case (p, r) => leaves(p) = r.getAs[Array[Byte]](1) }
      val (labels, winners) = elect(leaves, prev, globalMap.contains)
      // elected digests enter the cross-checkpoint map (reference inserts
      // the selected leaf, reference_impl.hpp:396-398; single-member fresh
      // digests elect themselves). Internal forest digests matter only for
      // restart reconstruction, which ChunkDedup.Chain provides.
      winners.keysIterator.foreach(globalMap.add)
      prev = Some(leaves)
      import spark.implicits._
      val labelDf = labels.zipWithIndex
        .map { case (l, pos) => (numChunks - 1 + pos, l) }.toSeq
        .toDF("node", "label")
      LowRootResult(labelDf,
        labels.count(_ == FIRST).toLong,
        labels.count(_ == SHIFT).toLong,
        labels.count(_ == FIXED).toLong)
    }
  }
}
