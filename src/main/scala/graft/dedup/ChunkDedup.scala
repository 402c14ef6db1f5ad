package graft.dedup

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.gf

/** Reference-semantics incremental chunk deduplication — the Spark rebuild of
  * the reference's flagship Tree approach (/root/reference/src/tree_approach.cpp):
  *
  *   - chunks hashed with murmur3_x64_128 seed 0 (kokkos_murmur3.hpp:436);
  *   - per-checkpoint labels: FIXED_DUPL (same digest, same position vs the
  *     previous checkpoint, :326-327), FIRST_OCUR (new digest, lowest-position
  *     winner, atomic_min :337-343 ⇒ `min` aggregate here), SHIFT_DUPL (digest
  *     seen elsewhere, :344-348);
  *   - maximal-region coalescing over the implicit complete binary tree
  *     (2n-1 nodes, chunk j ↦ node n-1+j): first-occurrence forest bottom-up
  *     (:372-404), then duplicate forest (:413-477) — a parent coalesces two
  *     SHIFT children only when its combined digest already exists in the
  *     distinct map;
  *   - the distinct map (digest → first NodeID(chkpt, node)) is an Iceberg-
  *     style accumulating state table, NOT a hash table: insert-if-absent is
  *     a left-anti join + union (SURVEY.md §2.4 J1).
  *
  * Restart (tree_approach.cpp:713-1128) is the inverse, and like the
  * reference's it reads only the incremental files: [[restartFromStore]]
  * reconstructs any checkpoint from its store's first-occurrence bytes +
  * shift metadata by resolving every position's claim newest → oldest
  * (§2.8: per-step left-anti fall-through), and checks the rebuilt buffer
  * against the full-buffer MD5 committed with the checkpoint. A chain
  * keeps no reconstruction of its own.
  *
  * Scale note: up to [[graft.Regime.LOCAL_SWEEP_MAX]] chunks a checkpoint collects
  * only its 16-byte leaf digests to the driver, and a restart only the
  * FIRST positions and shift regions of the checkpoints it visits. Beyond
  * it the level sweep is O(log n) shuffles of geometrically shrinking node
  * sets; the distinct map is partitioned by digest and grows with distinct
  * content only. At web scale the per-leaf tables dominate and partition
  * freely; nothing is collected to the driver.
  */
object ChunkDedup {

  final val FIRST = "FIRST_OCUR"
  final val FIXED = "FIXED_DUPL"
  final val SHIFT = "SHIFT_DUPL"
  final val DONE = "DONE" // absorbed into a parent region

  case class ChkptResult(
      chkptId: Int,
      labels: DataFrame,      // (node, label) — per-LEAF classification
                              // (FIRST/FIXED/SHIFT, identical on both
                              // execution paths); region coalescing is
                              // reported via numFirstOcur/numShiftDupl
      numFirstOcur: Long,     // count of first-occurrence region roots
      numShiftDupl: Long,     // count of shifted-duplicate region roots
      firstLeaves: DataFrame, // (pos, chunk) bytes stored in the incremental chkpt
      shiftLeafMap: DataFrame, // (pos, src_chkpt, src_pos) duplicate metadata
      regionSizes: Seq[(String, Long)] = Nil // one (label, leaves-under-root)
                              // entry per region root — the reference's
                              // STATS histograms (tree_approach.cpp:229-256);
                              // filled on the local-sweep path, empty on the
                              // thin distributed sweep (whose region info is
                              // the shift regions it commits)
  ) {
    /** Distinct prior checkpoints this incremental references — the
      * reference's `chkpts_needed` bitset (F4, list_approach.cpp:98-110)
      * as a `distinct` aggregate; drives restart-scan pruning.
      */
    def referencedCheckpoints: DataFrame =
      shiftLeafMap.select("src_chkpt").distinct()
  }

  @inline private def level(i: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(i + 1)

  /** Leaf POSITIONS under heap node `u` in left-to-right order. Correct for
    * ragged heaps (leaves occupy nodes nLeaves−1 .. 2·nLeaves−2 across up to
    * two levels; every internal node has both children).
    */
  private[graft] def subtreeLeafPositions(u: Long, nLeaves: Long): Array[Long] = {
    val leafBase = nLeaves - 1
    val out = Array.newBuilder[Long]
    val stack = new scala.collection.mutable.ArrayBuffer[Long]
    stack += u
    while (stack.nonEmpty) {
      val x = stack.remove(stack.length - 1)
      if (x >= leafBase) out += x - leafBase
      else { stack += 2 * x + 2; stack += 2 * x + 1 } // left popped first
    }
    out.result()
  }

  /** Expand region-compacted shift metadata (node, src_chkpt, src_node) —
    * one row per coalesced region root, the stored layout — into per-leaf
    * (pos, src_chkpt, src_pos) claims: the i-th leaf of a region sources
    * from the i-th leaf of its source subtree (equal digests ⇒ equal
    * shapes). Distributed: each region expands independently; output volume
    * is the claim count, which any restart must materialize anyway.
    */
  private[graft] def expandShiftRegions(spark: SparkSession, regions: DataFrame,
                                        nLeaves: Long): DataFrame = {
    import spark.implicits._
    regions.select(col("node"), col("src_chkpt").cast("int"), col("src_node"))
      .as[(Long, Int, Long)]
      .flatMap { case (u, sc, su) =>
        val cur = subtreeLeafPositions(u, nLeaves)
        val src = subtreeLeafPositions(su, nLeaves)
        require(cur.length == src.length,
          s"region $u -> $su leaf-count mismatch (${cur.length} vs ${src.length})")
        cur.iterator.zip(src.iterator).map { case (p, sp) => (p, sc, sp) }
      }
      .toDF("pos", "src_chkpt", "src_pos")
  }

  /** MD5 of the full checkpoint buffer — the reference's whole-buffer
    * restart digest (restart_chkpt_files.cpp:104-108) — over chunks already
    * in position order: the UTF-8 bytes of each non-null chunk, streamed on
    * one thread.
    */
  private[dedup] def md5Hex(chunksInOrder: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    chunksInOrder.foreach(c => if (c != null) md.update(c.getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Row count and [[md5Hex]] of a (pos, chunk) frame in ONE single-task
    * pass: `coalesce(1)` and a per-task sort by position, no exchange. A
    * full-buffer hash is sequential in any engine; the per-leaf murmur128
    * Merkle tree is the parallel digest.
    */
  private[dedup] def countAndMd5(chunks: DataFrame): (Long, String) = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select("pos", "chunk").coalesce(1).sortWithinPartitions("pos")
      .mapPartitions { rows =>
        var k = 0L
        val h = md5Hex(rows.map { r => k += 1; r.getString(1) })
        Iterator((k, h))
      }
      .collect().headOption.getOrElse((0L, md5Hex(Iterator.empty)))
  }

  /** The thin bottom-up level sweep (the Spark shape of the reference's
    * level-by-level tree build): from the deepest heap level up, frontier
    * siblings pair into their parent, digest murmur128(left ‖ right);
    * `keep` filters those parents and gives them the frontier's other
    * columns; kept parents replace their children on the frontier, and a
    * level's unabsorbed nodes retire as region roots. Only the live
    * frontier is materialized: O(frontier leaves) in total, not
    * O(nodes · log n). Ragged heaps are correct: a node pairs only with its
    * own sibling, whichever level its subtree's height puts it on.
    * @param frontier0 (node, digest, …) rows; `keep` returns the same columns
    * @return (region roots, every kept parent)
    */
  private[dedup] def thinSweep(frontier0: DataFrame, nLeaves: Long,
                               keep: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    var frontier = frontier0.localCheckpoint(true)
    var roots = frontier.limit(0)
    var internals = frontier.limit(0)
    for (lvl <- level(2 * nLeaves - 2) to 1 by -1) {
      // exact integer level (bin-string width): floor(log2(…)) on
      // doubles mis-rounds near 2^k for node ids ≥ ~2^48
      val withLvl = frontier
        .withColumn("lvl", (length(bin(col("node") + 1)) - 1).cast("int"))
      val lvlNodes = withLvl.filter(col("lvl") === lvl).drop("lvl")
      val parents = keep(lvlNodes
          .withColumn("parent", ((col("node") - 1) / 2).cast("long"))
          .withColumn("is_left", (col("node") % 2) === 1)
          .groupBy("parent").agg(
            count(lit(1)).as("cnt"),
            max(when(col("is_left"), col("digest"))).as("dl"),
            max(when(!col("is_left"), col("digest"))).as("dr"))
          .filter(col("cnt") === 2)
          .select(col("parent").as("node"),
            gf.murmur128(concat(col("dl"), col("dr"))).as("digest")))
        .localCheckpoint(true)
      val absorbed = parents.select((col("node") * 2 + 1).as("node"))
        .union(parents.select((col("node") * 2 + 2).as("node")))
      roots = roots.union(lvlNodes.join(absorbed, Seq("node"), "left_anti"))
      internals = internals.union(parents)
      frontier = withLvl.filter(col("lvl") =!= lvl).drop("lvl").union(parents)
        .localCheckpoint(true)
    }
    // anything left (the level-0 root, single-leaf trees) is a region root
    (roots.union(frontier), internals)
  }

  /** Split a text into fixed-size character chunks (ragged tail), one row per
    * chunk — the reference's P1 chunking (basic_approach.cpp:29-33).
    */
  def chunkify(spark: SparkSession, text: String, chunkSize: Int): DataFrame = {
    import spark.implicits._
    text.grouped(chunkSize).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("pos", "chunk")
  }

  /** Reconstruct checkpoint `cid` from a [[graft.state.SnapshotStore]] ALONE
    * — no in-session chain state; the reference's file-only restart
    * (tree_approach.cpp:713-1128, driver restart_chkpt_files.cpp:171-195).
    *
    * The newest→oldest walk (tree_approach.cpp:943): every position of
    * `cid` carries a (src_chkpt, src_pos) claim; per older checkpoint the
    * claims at that checkpoint either hit its first-occurrence bytes,
    * follow its shift indirection, or fall through FIXED to the previous
    * checkpoint at the same position (§2.8 left-anti semantics). Each step
    * jumps to the NEWEST checkpoint a pending claim still references
    * (chkpts_needed, F4 list_approach.cpp:98-110), so only referenced
    * checkpoints are read. Two regimes, split by [[graft.Regime.local]] at
    * the checkpoint's own bound [[graft.Regime.LOCAL_SWEEP_MAX]]:
    *   - up to it, the walk runs on the driver over metadata only: one job
    *     per visited checkpoint collects its FIRST positions (never the
    *     content) and its shift region rows. The content is then ONE narrow
    *     pass — each checkpoint holding a hit projects its chunk_first
    *     through a broadcast src_pos → positions index, and the union is
    *     checkpointed once (no join, no exchange) — and one single-task
    *     pass counts and hashes it. Jobs: visited checkpoints + 2. Driver
    *     footprint at 2²⁰ chunks: 28 MB of per-position arrays (claim and
    *     shift 12 B each, a 4 B count), the src_pos → positions index
    *     (≤ 20 B per position, ≈ 20 MB, plus its serialized broadcast
    *     copy) and, transiently, one visited checkpoint's collected
    *     metadata rows (≤ 2 per position);
    *   - above it, the walk is a Spark loop: per visited checkpoint a few
    *     joins over narrow columns, two localCheckpoints and a max
    *     aggregate; then the same count + MD5 pass.
    * Both regimes gate the row count (every position resolved exactly once;
    * this also catches a duplicated FIRST row) and the full-buffer MD5
    * committed with the checkpoint, both from one [[countAndMd5]] pass.
    */
  def restartFromStore(spark: SparkSession, store: graft.state.SnapshotStore,
                       cid: Int): DataFrame = {
    val manifest = store.manifestJson("chunk_first", cid)
    val numChunks =
      """"num_chunks":\s*"(\d+)"""".r.findFirstMatchIn(manifest)
        .map(_.group(1).toLong)
        .getOrElse(sys.error("chunk_first manifest lacks num_chunks"))
    val committedMd5 =
      """"full_md5":\s*"([0-9a-f]+)"""".r.findFirstMatchIn(manifest).map(_.group(1))
    if (graft.Regime.local(spark, numChunks, graft.Regime.LOCAL_SWEEP_MAX))
      driverRestart(spark, store, cid, numChunks.toInt, committedMd5)
    else loopRestart(spark, store, cid, numChunks, committedMd5)
  }

  /** Completeness gate: an inconsistent or truncated store (a claim whose
    * first/shift row is missing, claims left below chkpt 0, or a duplicated
    * FIRST row) must fail loudly, not return a silently wrong
    * reconstruction.
    */
  private def requireResolved(cid: Int, got: Long, numChunks: Long): Unit =
    require(got == numChunks,
      s"restart($cid) resolved only $got of $numChunks positions — store is " +
        "inconsistent (missing first/shift rows or claims fell past chkpt 0)")

  /** Both gates over one [[countAndMd5]] pass of the reconstruction: the
    * row count, then the full-buffer digest recorded at commit
    * (restart_chkpt_files.cpp:104-108) — stronger than row counts, it
    * catches any content-level corruption.
    */
  private def verified(cid: Int, out: DataFrame, numChunks: Long,
                       committed: Option[String]): DataFrame = {
    val (got, actual) = countAndMd5(out)
    requireResolved(cid, got, numChunks)
    for (expected <- committed)
      require(actual == expected, s"restart($cid) full-buffer md5 $actual != committed $expected")
    out
  }

  /** Per-checkpoint restart index: the distinct src positions `keys`
    * (ascending) that claims resolved onto this checkpoint's FIRST rows,
    * and for `keys(i)` the destination positions dests(offs(i) until
    * offs(i+1)) — CSR arrays, shipped to executors as one broadcast.
    */
  private final case class SrcIndex(keys: Array[Long], offs: Array[Int], dests: Array[Long]) {
    def destsOf(src: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(keys, src)
      if (i < 0) Array.emptyLongArray
      else java.util.Arrays.copyOfRange(dests, offs(i), offs(i + 1))
    }
  }

  /** The driver regime of [[restartFromStore]]. */
  private def driverRestart(spark: SparkSession, store: graft.state.SnapshotStore,
                            cid: Int, n: Int, committedMd5: Option[String]): DataFrame = {
    // claim of position p: (claimC(p), claimP(p)), `resolved` once it names
    // a FIRST row of claimC(p); a claim that can never resolve is parked
    // at checkpoint −1, like one that fell past checkpoint 0
    val claimC = Array.fill(n)(cid)
    val claimP = Array.tabulate(n)(_.toLong)
    val resolved = new java.util.BitSet(n)
    // the visited checkpoint's metadata, by position
    val isFirst = new java.util.BitSet(n)
    val shC = new Array[Int](n)
    val shP = new Array[Long](n)
    val firsts = scala.collection.mutable.Map.empty[Int, DataFrame]
    var cur = cid
    while (cur >= 0) {
      val first = store.read("chunk_first", cur)
      firsts(cur) = first
      isFirst.clear()
      java.util.Arrays.fill(shC, -1)
      first.select(lit(true), col("pos"), lit(0), lit(0L))
        .union(store.read("chunk_shift", cur).select(lit(false), col("node"),
          col("src_chkpt").cast("int"), col("src_node")))
        .collect()
        .foreach { r =>
          if (r.getBoolean(0)) {
            val p = r.getLong(1)
            if (p >= 0 && p < n) isFirst.set(p.toInt)
          } else {
            val (u, su) = (r.getLong(1), r.getLong(3))
            require(u >= 0 && u < 2L * n - 1 && su >= 0 && su < 2L * n - 1,
              s"restart($cid): checkpoint $cur shift region $u -> $su lies " +
                s"outside the $n-leaf tree")
            val dst = subtreeLeafPositions(u, n)
            val src = subtreeLeafPositions(su, n)
            require(dst.length == src.length,
              s"region $u -> $su leaf-count mismatch (${dst.length} vs ${src.length})")
            for (i <- dst.indices) { shC(dst(i).toInt) = r.getInt(2); shP(dst(i).toInt) = src(i) }
          }
        }
      // resolve the claims on `cur` as the Spark loop does, and find the
      // newest checkpoint any pending claim still references
      var next = -1
      for (p <- 0 until n if !resolved.get(p)) {
        if (claimC(p) == cur) {
          val sp = claimP(p).toInt
          val sc = shC(sp)
          if (isFirst.get(sp)) resolved.set(p)
          else if (sc < 0) claimC(p) = cur - 1 // FIXED fall-through
          else if (sc < cur) { claimC(p) = sc; claimP(p) = shP(sp) }
          else if (sc == cur && isFirst.get(shP(sp).toInt)) {
            claimP(p) = shP(sp); resolved.set(p)
          } else claimC(p) = -1
        }
        if (!resolved.get(p)) next = math.max(next, claimC(p))
      }
      cur = next
    }
    requireResolved(cid, resolved.cardinality(), n)

    // ---- one narrow reconstruction -----------------------------------------
    val cnt = new Array[Int](n) // per src position: hits, then write cursor
    val index = firsts.keys.toSeq.sorted.flatMap { c =>
      java.util.Arrays.fill(cnt, 0)
      var hits = 0
      for (p <- 0 until n if claimC(p) == c) { cnt(claimP(p).toInt) += 1; hits += 1 }
      if (hits == 0) None
      else {
        val keys = (0 until n).iterator.filter(cnt(_) > 0).map(_.toLong).toArray
        val offs = new Array[Int](keys.length + 1)
        for (i <- keys.indices) {
          val k = keys(i).toInt
          offs(i + 1) = offs(i) + cnt(k)
          cnt(k) = offs(i)
        }
        val dests = new Array[Long](hits)
        for (p <- 0 until n if claimC(p) == c) {
          val k = claimP(p).toInt
          dests(cnt(k)) = p
          cnt(k) += 1
        }
        Some(c -> SrcIndex(keys, offs, dests))
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(index)
    val to = udf((c: Int, src: Long) => bc.value(c).destsOf(src))
    val out = index.keys.toSeq.sorted
      .map(c => firsts(c).select(explode(to(lit(c), col("pos"))).as("pos"), col("chunk")))
      .reduce(_ union _).localCheckpoint(true)
    bc.destroy()
    verified(cid, out, n, committedMd5)
  }

  /** The Spark-loop regime of [[restartFromStore]]. */
  private def loopRestart(spark: SparkSession, store: graft.state.SnapshotStore,
                          cid: Int, numChunks: Long,
                          committedMd5: Option[String]): DataFrame = {
    def first(c: Int): DataFrame = store.read("chunk_first", c)
    // the stored shift section is region-compacted — expand each region
    // root back to per-leaf (pos, src_chkpt, src_pos) claims
    def shift(c: Int): DataFrame =
      expandShiftRegions(spark, store.read("chunk_shift", c), numChunks)

    // initial claims: every position of cid sources from (cid, pos)
    var pending = spark.range(numChunks)
      .select(col("id").as("pos"), lit(cid).as("src_chkpt"), col("id").as("src_pos"))
    var resolved = first(cid).limit(0).select(col("pos"), col("chunk"))
    var cur = cid
    // chkpts_needed scan pruning (F4, list_approach.cpp:98-110): each round
    // jumps straight to the NEWEST checkpoint any pending claim still
    // references, so a restart touches only REFERENCED checkpoints — a
    // shift pointing at checkpoint 0 never drags the scan through the
    // unreferenced ones in between (ChunkDedupSpec counts store reads)
    while (cur >= 0) {
      val pCur = pending.filter(col("src_chkpt") === cur)
        .select(col("pos"), col("src_pos"))
      val f = first(cur).select(col("pos").as("src_pos"), col("chunk"))
      val sh = shift(cur).select(col("pos").as("src_pos"),
        col("src_chkpt").as("sc2"), col("src_pos").as("sp2"))
      val hit = pCur.join(f, Seq("src_pos")).select(col("pos"), col("chunk"))
      val redir = pCur.join(sh, Seq("src_pos")).select(col("pos"), col("sc2"), col("sp2"))
      // a same-checkpoint indirection targets a first-occurrence of cur
      val hit2 = redir.filter(col("sc2") === cur)
        .select(col("pos"), col("sp2").as("src_pos"))
        .join(f, Seq("src_pos")).select(col("pos"), col("chunk"))
      val redirOld = redir.filter(col("sc2") < cur)
        .select(col("pos"), col("sc2").as("src_chkpt"), col("sp2").as("src_pos"))
      // FIXED fall-through: same position, previous checkpoint
      val fall = pCur
        .join(f.select("src_pos"), Seq("src_pos"), "left_anti")
        .join(sh.select("src_pos"), Seq("src_pos"), "left_anti")
        .select(col("pos"), lit(cur - 1).as("src_chkpt"), col("src_pos"))
      // both accumulators need per-round lineage cuts: the loop otherwise
      // nests O(chain length) union+join subtrees in the final plan
      resolved = resolved.union(hit).union(hit2).localCheckpoint(true)
      pending = pending.filter(col("src_chkpt") =!= cur)
        .union(redirOld).union(fall)
        .localCheckpoint(true)
      // next referenced checkpoint (tiny agg over the checkpointed claims;
      // null ⇔ every claim resolved — the old isEmpty early termination)
      val nxt = pending.agg(max("src_chkpt")).head()
      cur = if (nxt.isNullAt(0)) -1 else nxt.getInt(0)
    }
    verified(cid, resolved.select("pos", "chunk").localCheckpoint(true), numChunks,
      committedMd5)
  }

  object Chain {
    /** A 128-bit digest as a hashable map key. */
    private[dedup] type Digest = scala.collection.immutable.ArraySeq[Byte]
    private[dedup] def key(d: Array[Byte]): Digest =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(d)

    /** A copy of 16-byte slot `i` of a flat digest array. */
    private[graft] def slot(digests: Array[Byte], i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(digests, 16 * i, 16 * i + 16)

    /** Leaf position of each collected row, gated: the positions must be a
      * permutation of 0..n−1 — a duplicated + missing position would pass a
      * count check and silently mislabel.
      */
    private[dedup] def leafIndex(positions: Array[Long], n: Int): Array[Int] = {
      require(positions.length == n, s"expected $n chunks, got ${positions.length}")
      val seen = new java.util.BitSet(n)
      positions.map { p =>
        require(p >= 0 && p < n && !seen.get(p.toInt), s"chunk positions are " +
          s"not a permutation of 0..${n - 1}: pos $p is repeated or out of range")
        seen.set(p.toInt)
        p.toInt
      }
    }

    /** [[leafIndex]]'s gate as one aggregate over a Spark frame's `pos`
      * column, for the paths that never collect their positions.
      */
    private[dedup] def requirePermutation(positions: DataFrame, n: Long): Unit = {
      val g = positions.agg(count(lit(1)), countDistinct("pos"), min("pos"), max("pos")).head()
      require(g.getLong(0) == n && g.getLong(1) == n &&
          !g.isNullAt(2) && g.getLong(2) == 0 && g.getLong(3) == n - 1,
        s"chunk positions are not a permutation of 0..${n - 1}: " +
          s"${g.getLong(0)} rows, ${g.getLong(1)} distinct, min ${g.get(2)}, max ${g.get(3)}")
    }

    /** The full Merkle tree of one checkpoint as one flat array of 2n−1
      * 16-byte slots — the reference's flat tree (kokkos_merkle_tree.hpp:
      * 16-33): node u in slot u, leaf p in slot n−1+p, internal =
      * murmur128(left ‖ right). Children 2u+1 and 2u+2 are adjacent slots,
      * so each parent hashes one 32-byte window in place. Correct for ragged
      * heaps (every internal node has both children).
      */
    private[graft] def merkleTree(leafDigests: Array[Byte]): Array[Byte] = {
      val n = leafDigests.length / 16
      val tree = new Array[Byte](16 * (2 * n - 1))
      System.arraycopy(leafDigests, 0, tree, 16 * (n - 1), leafDigests.length)
      var u = n - 2
      while (u >= 0) {
        val h = graft.functions.Impl.murmur128(tree, 16 * (2 * u + 1), 32, 0L)
        var i = 0
        while (i < 8) { // murmur128Digest's layout: h1 LE ‖ h2 LE
          tree(16 * u + i) = (h(0) >>> (8 * i)).toByte
          tree(16 * u + 8 + i) = (h(1) >>> (8 * i)).toByte
          i += 1
        }
        u -= 1
      }
      tree
    }

    private[dedup] val shiftSchema = StructType(Seq(StructField("node", LongType),
      StructField("src_chkpt", IntegerType), StructField("src_node", LongType)))

    /** Leaf `p` is FIXED: same digest as the previous checkpoint at the same
      * position (tree_approach.cpp:326-327); `prev` is null at checkpoint 0.
      */
    private[dedup] def isFixed(leaves: Array[Byte], prev: Array[Byte], p: Int): Boolean =
      prev != null &&
        java.util.Arrays.equals(leaves, 16 * p, 16 * p + 16, prev, 16 * p, 16 * p + 16)

    /** One checkpoint's driver-side resolution. */
    private[dedup] final case class Resolved(
        labels: Array[String],     // per position: FIRST / FIXED / SHIFT
        srcOf: Array[(Int, Long)], // per SHIFT position: (src_chkpt, src_node)
        counts: Map[String, Long], // region roots per label
        regionSizes: Vector[(String, Long)],
        shiftRegions: Seq[Row])    // the committed shift section

    /** The local-sweep path's driver pass, in the reference's order
      * (tree_approach.cpp:325-477): `known(p)` is the map entry of
      * non-FIXED leaf p's digest (J1; whether this checkpoint's own inserts
      * show there does not matter — a fresh duplicate resolves to its
      * winner either way), `lookup(node, digest)` reads the map including
      * this checkpoint's inserts, and `insert` adds an absent entry.
      *   1. leaves: FIXED ([[isFixed]]); else SHIFT onto the `known` entry;
      *      else fresh: the lowest position of each fresh digest wins FIRST
      *      (J2 atomic_min) and is inserted, and its other positions SHIFT
      *      onto it;
      *   2. the FIRST forest's internals are inserted if absent, lowest node
      *      first (:372-404);
      *   3. a SHIFT-candidate internal coalesces iff the map holds its
      *      digest, and inherits that entry as its source (:413-477).
      * `leaves` holds the 16-byte leaf digests by position. The shift
      * section has one (node, src_chkpt, src_node) row per SHIFT region
      * ROOT — a SHIFT leaf or coalesced internal whose parent did not
      * coalesce (:593-622).
      */
    private[dedup] def resolve(cid: Int, leaves: Array[Byte], prev: Array[Byte],
                               known: Int => Option[(Int, Long)],
                               lookup: (Long, Digest) => Option[(Int, Long)],
                               insert: (Digest, (Int, Long)) => Unit): Resolved = {
      val n = leaves.length / 16
      val leafBase = n - 1L
      val labels = new Array[String](n)
      val srcOf = new Array[(Int, Long)](n)
      val winner = scala.collection.mutable.HashMap.empty[Digest, (Int, Long)]
      for (p <- 0 until n) {
        if (isFixed(leaves, prev, p)) labels(p) = FIXED
        else {
          val d = key(slot(leaves, p))
          known(p).orElse(winner.get(d)) match {
            case Some(src) => labels(p) = SHIFT; srcOf(p) = src
            case None =>
              labels(p) = FIRST
              winner(d) = (cid, leafBase + p)
              insert(d, winner(d))
          }
        }
      }
      val leafEntries = Array.tabulate(n)(p => (leafBase + p, slot(leaves, p), labels(p)))
      val (firstInt, fixedInt, shiftCand) = localForests(leafEntries)
      firstInt.sortBy(_._1).foreach { case (u, d) =>
        if (lookup(u, key(d)).isEmpty) insert(key(d), (cid, u))
      }
      val shiftIntSrc = shiftCand.iterator
        .flatMap { case (u, d) => lookup(u, key(d)).map(u -> _) }.toMap
      val sizes = regionRootSizes(leafEntries, firstInt, fixedInt, shiftCand,
        shiftIntSrc.keySet, n)
      val shiftLeafSrc = (0 until n).iterator.collect {
        case p if labels(p) == SHIFT => (leafBase + p, srcOf(p))
      }
      Resolved(labels, srcOf,
        sizes.groupBy(_._1).map { case (l, v) => l -> v.size.toLong },
        sizes,
        (shiftLeafSrc ++ shiftIntSrc.iterator).collect {
          case (u, (sc, sn)) if u == 0 || !shiftIntSrc.contains((u - 1) / 2) =>
            Row(u, sc, sn)
        }.toSeq)
    }

    /** Build the three uniform-label forests in memory. Returns the internal
      * nodes of (first, fixed, shift-candidate) forests as (node, digest).
      * Pure index arithmetic — correct for ragged heaps.
      */
    def localForests(leaves: Array[(Long, Array[Byte], String)])
      : (Vector[(Long, Array[Byte])], Vector[(Long, Array[Byte])], Vector[(Long, Array[Byte])]) = {
      def forest(label: String): Vector[(Long, Array[Byte])] = {
        val active = scala.collection.mutable.HashMap.empty[Long, Array[Byte]]
        leaves.foreach { case (n, d, l) => if (l == label) active(n) = d }
        val internals = Vector.newBuilder[(Long, Array[Byte])]
        // max-first order: children always pop before their parent could
        val queue = scala.collection.mutable.PriorityQueue.empty[Long]
        active.keys.foreach(queue.enqueue(_))
        while (queue.nonEmpty) {
          val n = queue.dequeue()
          if (n > 0 && active.contains(n)) {
            val sib = if (n % 2 == 1) n + 1 else n - 1
            if (active.contains(sib)) {
              val l = math.min(n, sib); val r = math.max(n, sib)
              val pd = graft.functions.Impl.murmur128Digest(active(l) ++ active(r))
              active.remove(l); active.remove(r)
              val p = (n - 1) / 2
              active(p) = pd
              internals += ((p, pd))
              queue.enqueue(p)
            }
          }
        }
        internals.result()
      }
      (forest(FIRST), forest(FIXED), forest(SHIFT))
    }
    /** One entry per region ROOT: (label, region size in leaves). A node is
      * a region root iff it is not absorbed by a coalescing parent
      * (FIRST/FIXED: parent in the forest; SHIFT: parent's digest present in
      * the distinct map). Region size = leaves under the root — the
      * reference's STATS region-size histograms
      * (tree_approach.cpp:229-256 `first/shift_region_sizes`).
      */
    def regionRootSizes(leaves: Array[(Long, Array[Byte], String)],
                        firstInt: Vector[(Long, Array[Byte])],
                        fixedInt: Vector[(Long, Array[Byte])],
                        shiftCand: Vector[(Long, Array[Byte])],
                        presentShift: Set[Long],
                        nLeaves: Long): Vector[(String, Long)] = {
      @inline def parent(n: Long): Long = (n - 1) / 2
      val firstSet = firstInt.map(_._1).toSet
      val fixedSet = fixedInt.map(_._1).toSet
      def roots(leafLabel: String, internals: Vector[(Long, Array[Byte])],
                inForest: Long => Boolean): Vector[(String, Long)] = {
        val leafRoots = leaves.iterator.collect {
          case (n, _, l) if l == leafLabel && (n == 0 || !inForest(parent(n))) =>
            (leafLabel, 1L)
        }.toVector
        val intRoots = internals.collect {
          case (n, _) if inForest(n) && (n == 0 || !inForest(parent(n))) =>
            (leafLabel, subtreeLeafPositions(n, nLeaves).length.toLong)
        }
        leafRoots ++ intRoots
      }
      roots(FIRST, firstInt, firstSet.contains) ++
        roots(FIXED, fixedInt, fixedSet.contains) ++
        roots(SHIFT, shiftCand, presentShift.contains)
    }
  }

  /** Stateful dedup over a chain of checkpoints (all with the same chunk
    * count, like the reference's fixed data_len). Not thread-safe.
    *
    * With a [[graft.state.SnapshotStore]] attached, each checkpoint's
    * incremental outputs (first-occurrence bytes + shift metadata — exactly
    * the reference's checkpoint file sections, tree_approach.cpp:593-622)
    * are committed durably, and [[ChunkDedup.restartFromStore]] reconstructs
    * ANY checkpoint from files alone (restart_chkpt_files.cpp:171-195). That
    * is the only restart: the chain keeps no reconstruction and no past
    * result, only the distinct map and the previous checkpoint's leaf
    * digests (its FIXED probe).
    */
  final class Chain(spark: SparkSession, numChunks: Long,
                    store: Option[graft.state.SnapshotStore] = None) {
    require(numChunks >= 1)
    private val nLeaves = numChunks
    private val leafBase = nLeaves - 1 // chunk j ↦ node leafBase + j

    /** digest → first occurrence (chkpt, node); accumulates across chkpts. */
    private var distinctMap: DataFrame = _
    /** previous checkpoint's leaves (node, digest): the distributed path's
      * FIXED probe. */
    private var prevTree: DataFrame = _
    /** previous checkpoint's leaf digests, 16-byte slots by position: the
      * local-sweep path's FIXED probe. */
    private var prevLeaves: Array[Byte] = _
    private var curId: Int = -1

    /** The chain's one regime choice, made here so that no checkpoint of
      * the chain takes another path than its predecessors. */
    private val localSweep = graft.Regime.local(spark, numChunks, graft.Regime.LOCAL_SWEEP_MAX)

    /** Process the next checkpoint; chunks = (pos: Long, chunk: String). */
    def checkpoint(chunks: DataFrame): ChkptResult =
      if (localSweep) localSweepCheckpoint(chunks) else distributedCheckpoint(chunks)

    private def firstMeta(fullMd5: String): Map[String, String] =
      Map("num_chunks" -> numChunks.toString, "full_md5" -> fullMd5)

    /** The local-sweep path's result: per-leaf labels and shift sources as
      * local relations built from the driver pass — no job until a caller
      * reads them.
      */
    private def driverResult(cid: Int, r: Chain.Resolved,
                             firstLeaves: DataFrame): ChkptResult = {
      import spark.implicits._
      import r.{labels, srcOf}
      ChkptResult(cid,
        labels.indices.map(p => (leafBase + p, labels(p))).toDF("node", "label"),
        r.counts.getOrElse(FIRST, 0L), r.counts.getOrElse(SHIFT, 0L),
        firstLeaves,
        labels.indices.collect {
          case p if labels(p) == SHIFT => (p.toLong, srcOf(p)._1, srcOf(p)._2 - leafBase)
        }.toDF("pos", "src_chkpt", "src_pos"),
        r.regionSizes)
    }

    /** Local-sweep path (n ≤ [[graft.Regime.LOCAL_SWEEP_MAX]]): ONE driver
      * pass per checkpoint. One job streams the chunks in position order
      * through one task and returns every leaf digest (never the content)
      * and the full-buffer MD5; the driver builds the full Merkle tree and
      * runs its pass ([[Chain.resolve]]), answering every
      * distinct-map question from ONE probe — the non-FIXED leaves plus
      * every internal, since Merkle digests do not depend on labels — and
      * ONE insert. The only other job is the chunk_first write (chunk_shift
      * is written driver-direct); the result's frames run nothing until
      * read.
      */
    private def localSweepCheckpoint(chunks: DataFrame): ChkptResult = {
      curId += 1
      val cid = curId
      val n = numChunks.toInt
      val (positions, leaves, fullMd5) = {
        import spark.implicits._
        chunks.select(col("pos"), col("chunk")).coalesce(1).sortWithinPartitions("pos")
          .mapPartitions { rows =>
            val pos = Array.newBuilder[Long]
            val digests = new java.io.ByteArrayOutputStream
            val h = md5Hex(rows.map { r =>
              pos += r.getLong(0)
              digests.write(graft.functions.Impl.murmur128Digest(
                r.getString(1).getBytes(StandardCharsets.UTF_8)))
              r.getString(1)
            })
            Iterator((pos.result(), digests.toByteArray, h))
          }
          .collect().headOption.getOrElse((Array.emptyLongArray, Array.emptyByteArray, ""))
      }
      // sorted by position, a permutation of 0..n−1 puts each digest in its slot
      Chain.leafIndex(positions, n)
      val tree = Chain.merkleTree(leaves)

      // ---- one probe of the map as it stood before this checkpoint ---------
      // hits by node (≤ 2n−1 rows: map digests are unique)
      val hitChkpt = Array.fill(2 * n - 1)(-1)
      val hitNode = new Array[Long](2 * n - 1)
      if (distinctMap != null) {
        // the probe digests ship as ONE broadcast set that filters the map
        // in one job (a join with a local relation plans a separate AQE
        // broadcast job ahead of the join's)
        val probe = (0 until 2 * n - 1)
          .filter(u => u < leafBase || !Chain.isFixed(leaves, prevLeaves, u - leafBase.toInt))
        def digest(u: Int) = Chain.key(Chain.slot(tree, u))
        val bc = spark.sparkContext.broadcast(probe.iterator.map(digest).toSet)
        val probed = udf((d: Array[Byte]) => bc.value.contains(Chain.key(d)))
        val hits = distinctMap.filter(probed(col("digest")))
          .select("digest", "src_chkpt", "src_node").collect()
          .map(r => Chain.key(r.getAs[Array[Byte]](0)) -> ((r.getInt(1), r.getLong(2)))).toMap
        for (u <- probe; (c, v) <- hits.get(digest(u))) { hitChkpt(u) = c; hitNode(u) = v }
        bc.destroy()
      }
      def oldHit(u: Long): Option[(Int, Long)] =
        if (hitChkpt(u.toInt) < 0) None else Some((hitChkpt(u.toInt), hitNode(u.toInt)))

      // ---- driver resolution: the old map's hits + this checkpoint's inserts
      val inserts = scala.collection.mutable.LinkedHashMap.empty[Chain.Digest, (Int, Long)]
      val r = Chain.resolve(cid, leaves, prevLeaves, p => oldHit(leafBase + p),
        (u, d) => oldHit(u).orElse(inserts.get(d)), (d, src) => inserts.put(d, src))

      // ---- one insert --------------------------------------------------------
      if (inserts.nonEmpty) {
        import spark.implicits._
        val fresh = inserts.iterator.map { case (d, (c, u)) => (d.toArray, c, u) }
          .toSeq.toDF("digest", "src_chkpt", "src_node")
        distinctMap = (if (distinctMap == null) fresh else distinctMap.union(fresh))
          .localCheckpoint(true)
      }

      // ---- outputs: the FIRST rows are a filter over the input ---------------
      val firstPos = new java.util.BitSet(n)
      for (p <- 0 until n if r.labels(p) == FIRST) firstPos.set(p)
      val isFirst = udf((p: Long) => firstPos.get(p.toInt))
      val firstLeaves = chunks.filter(isFirst(col("pos"))).select(col("pos"), col("chunk"))
      store.foreach { st =>
        // one file with no exchange: coalesce, not commit's repartition
        st.commit("chunk_first", cid, firstLeaves.coalesce(1), firstMeta(fullMd5))
        st.commitLocal("chunk_shift", cid, Chain.shiftSchema, r.shiftRegions)
      }
      prevLeaves = leaves
      driverResult(cid, r, firstLeaves)
    }

    /** Distributed path (past the local sweep's bound, or under
      * `spark.graft.regime=distributed`): Spark labeling and per-level
      * THIN sweeps ([[ChunkDedup.thinSweep]]) — log₂(n) shuffles of
      * geometrically shrinking live frontiers; total materialized volume is
      * O(leaves), not O(nodes · log n).
      */
    private def distributedCheckpoint(chunks: DataFrame): ChkptResult = {
      curId += 1
      val cid = curId
      val leaves = chunks
        .select((col("pos") + leafBase).as("node"), col("pos"),
          gf.murmur128(col("chunk")).as("digest"), col("chunk"))
        .localCheckpoint(true)
      Chain.requirePermutation(leaves, nLeaves)

      // ---- leaf labeling ---------------------------------------------------
      val (fixedLeaves, restLeaves) =
        if (prevTree == null) {
          (leaves.limit(0), leaves)
        } else {
          val prev = prevTree.select(col("node"), col("digest").as("prev_digest"))
          val j = leaves.join(prev, Seq("node"), "left")
          (j.filter(col("prev_digest") === col("digest")).drop("prev_digest"),
            j.filter(col("prev_digest").isNull || col("prev_digest") =!= col("digest"))
              .drop("prev_digest"))
        }

      // global probe (J1): digest found → SHIFT with recorded source
      val probed = restLeaves.join(
        mapOrEmpty().select(col("digest"), col("src_chkpt"), col("src_node")),
        Seq("digest"), "left")
      val shiftedGlobal = probed.filter(col("src_chkpt").isNotNull)
      // new digests: lowest-node election (J2, atomic_min ⇒ min agg)
      val fresh = probed.filter(col("src_chkpt").isNull).drop("src_chkpt", "src_node")
      val winners = fresh.groupBy("digest").agg(min("node").as("win_node"))
      val freshTagged = fresh.join(winners, "digest")
      val firstLeavesDf = freshTagged.filter(col("node") === col("win_node"))
        .select("node", "pos", "digest", "chunk")
      val shiftedLocal = freshTagged.filter(col("node") =!= col("win_node"))
        .select(col("node"), col("pos"), col("digest"), col("chunk"),
          lit(cid).as("src_chkpt"), col("win_node").as("src_node"))

      // insert FIRST leaves into the distinct map (insert-if-absent)
      insertIntoMap(firstLeavesDf.select(col("digest"), lit(cid).as("src_chkpt"),
        col("node").as("src_node")))

      // state: (node, digest, label); leaf-level sources kept aside
      val st = firstLeavesDf.select(col("node"), col("digest"), lit(FIRST).as("label"))
        .union(fixedLeaves.select(col("node"), col("digest"), lit(FIXED).as("label")))
        .union(shiftedGlobal.select(col("node"), col("digest"), lit(SHIFT).as("label")))
        .union(shiftedLocal.select(col("node"), col("digest"), lit(SHIFT).as("label")))
        .localCheckpoint(true)
      // SHIFT leaves with their sources — the shift sweep's frontier (region
      // compaction needs each region ROOT's source, so sources ride along).
      val shiftLeaves = shiftedGlobal
        .select(col("node"), col("digest"), col("src_chkpt").cast("int").as("src_chkpt"),
          col("src_node"))
        .union(shiftedLocal.select(col("node"), col("digest"),
          col("src_chkpt").cast("int").as("src_chkpt"), col("src_node")))

      // ---- bottom-up sweeps -------------------------------------------------
      // Reference order preserved exactly: the FIRST forest is fully built
      // and its internals inserted into the map (tree_approach.cpp:372-404)
      // BEFORE the duplicate forest probes it (:413-477). FIRST leaves have
      // pairwise distinct digests, so their internals do too, and one
      // insert after the sweep equals the reference's per-node inserts.
      // Sweeping per label also keeps ragged trees correct: equal-height
      // subtrees can sit on different heap levels when n is not a power of
      // two. The FIXED forest is not swept: no output reports its regions.
      val (firstRoots, firstInternals) = thinSweep(
        st.filter(col("label") === FIRST).select("node", "digest"), nLeaves, identity)
      insertIntoMap(firstInternals.select(col("digest"), lit(cid).as("src_chkpt"),
        col("node").as("src_node")))
      // a parent coalesces two SHIFT children iff its combined digest is in
      // the distinct map, and inherits THAT MAP ENTRY as its source; the
      // roots are the shift REGION table (node, src_chkpt, src_node), the
      // reference's compacted metadata (tree_approach.cpp:593-622)
      val shiftRegions = thinSweep(shiftLeaves, nLeaves, _.join(mapOrEmpty(), Seq("digest"))
          .select(col("node"), col("digest"),
            col("src_chkpt").cast("int").as("src_chkpt"), col("src_node")))
        ._1.select("node", "src_chkpt", "src_node").localCheckpoint(true)

      // ---- outputs ----------------------------------------------------------
      val storedFirst = firstLeavesDf.select(col("pos"), col("chunk"))
      val res = ChkptResult(
        chkptId = cid,
        // leaf-level labels are the public per-chunk classification —
        // captured BEFORE the sweeps so all execution paths emit identical
        // labels (the sweeps absorb nodes into regions, which only the
        // counts report)
        labels = st.select("node", "label"),
        numFirstOcur = firstRoots.count(),
        numShiftDupl = shiftRegions.count(),
        firstLeaves = storedFirst,
        shiftLeafMap = shiftedGlobal.select(col("pos"), col("src_chkpt"),
            (col("src_node") - leafBase).as("src_pos"))
          .union(shiftedLocal.select(col("pos"), col("src_chkpt"),
            (col("src_node") - leafBase).as("src_pos"))),
        regionSizes = Nil)

      // durable incremental checkpoint: the two file sections restart needs.
      // The shift section is REGION-COMPACTED exactly like the reference's
      // (one entry per coalesced region root + its source NodeID,
      // tree_approach.cpp:593-622): the committed metadata volume is
      // O(regions), not O(shifted leaves). Ragged heaps are handled without
      // the reference's contiguous-span arithmetic (kokkos_merkle_tree.hpp:
      // 102-142, which assumes aligned subtrees): restart re-enumerates each
      // region's leaf POSITIONS by walking the subtree left-to-right
      // (subtreeLeafPositions) — positions need not be contiguous (n=5:
      // subtree(1) covers {0,3,4}) and the i-th leaf of the region maps to
      // the i-th leaf of its source subtree (equal digests ⇒ equal shapes).
      // The in-memory per-leaf shiftLeafMap remains the public API.
      store.foreach { st =>
        // the full-buffer MD5 that restartFromStore verifies
        // (restart_chkpt_files.cpp:104-108) is one single-task pass, run only
        // when this commit will happen: a resume over a committed checkpoint
        // skips it (commit() itself is a no-op then)
        if (!st.isCommitted("chunk_first", cid))
          st.commit("chunk_first", cid, storedFirst, firstMeta(countAndMd5(chunks)._2))
        st.commit("chunk_shift", cid, shiftRegions)
      }

      // the FIXED probe only ever compares leaves at equal positions
      // (tree_approach.cpp:326-327); FIXED parents re-derive bottom-up.
      prevTree = leaves.select(col("node"), col("digest")).localCheckpoint(true)
      res
    }

    private def mapOrEmpty(): DataFrame =
      if (distinctMap == null) {
        import spark.implicits._
        Seq.empty[(Array[Byte], Int, Long)].toDF("digest", "src_chkpt", "src_node")
      } else distinctMap

    private def insertIntoMap(entries: DataFrame): Unit = {
      val newOnes = entries.join(mapOrEmpty().select("digest"), Seq("digest"), "left_anti")
        // within-batch first-wins (lowest node)
        .groupBy("digest").agg(min(struct(col("src_chkpt"), col("src_node"))).as("s"))
        .select(col("digest"), col("s.src_chkpt").as("src_chkpt"),
          col("s.src_node").as("src_node"))
      distinctMap = (if (distinctMap == null) newOnes else distinctMap.union(newOnes))
        .localCheckpoint(true)
    }
  }
}
