package graft

import graft.dedup.{ChunkDedup, TreeLowRoot}
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's golden unit vectors
  * (/root/reference/test/test_case_01..10.cpp, chunk_size=1, 8-byte inputs,
  * two checkpoints) — expected first-occurrence / shifted-duplicate REGION
  * counts for step 1, from FIXTURES.md §3 — plus randomized restart
  * roundtrips (test/tree_chkpt.cpp analogue).
  */
class ChunkDedupSpec extends AnyFunSuite with SparkTestBase {

  private def runCase(step0: String, step1: String): (Long, Long) = {
    val (chain, store) = storeChain(step0.length.toLong)
    chain.checkpoint(ChunkDedup.chunkify(spark, step0, 1))
    val r = chain.checkpoint(ChunkDedup.chunkify(spark, step1, 1))
    // restart must reproduce both checkpoints byte-for-byte
    assert(restartString(store, 0, step0.length) == step0)
    assert(restartString(store, 1, step1.length) == step1)
    (r.numFirstOcur, r.numShiftDupl)
  }

  /** A chain committing to a store in a fresh temporary directory. */
  private def storeChain(n: Long): (ChunkDedup.Chain, graft.state.SnapshotStore) = {
    val store = new graft.state.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("graft_chunk_chain").toString)
    (new ChunkDedup.Chain(spark, n, store = Some(store)), store)
  }

  private def restartString(store: graft.state.SnapshotStore, cid: Int, n: Int): String = {
    val rows = ChunkDedup.restartFromStore(spark, store, cid).collect()
    assert(rows.length == n, s"restart($cid) produced ${rows.length}/$n chunks")
    rows.sortBy(_.getLong(0)).map(_.getString(1)).mkString
  }

  val goldenVectors = Seq(
    // (step0, step1, expected FO regions, expected SD regions, case id)
    ("ABCDEFGH", "IJKLMNOP", 1L, 0L, "01"),
    ("ABCDEFGH", "ABCDEFGH", 0L, 0L, "02"),
    ("ABCDEFGH", "ABCDEIJK", 2L, 0L, "03"),
    ("ABCDEFGH", "IJABCDEK", 2L, 3L, "04"),
    ("ABCDEFGH", "ABCIABCJ", 2L, 2L, "05"),
    ("ABCDEFGH", "EFGBCDIJ", 1L, 4L, "06"),
    ("ABCDEFGH", "IJKLABIH", 1L, 2L, "07"),
    ("MNXYOPQR", "IJXYIJAB", 2L, 1L, "08"),
    ("MNXYOPQR", "IJXYIJIB", 2L, 2L, "09"),
    ("MNXYOPQR", "IJXYIJJI", 1L, 3L, "10")
  )

  goldenVectors.foreach { case (s0, s1, fo, sd, id) =>
    test(s"golden vector $id: $s0 → $s1 ⇒ FO=$fo SD=$sd") {
      assert(runCase(s0, s1) == ((fo, sd)))
    }
  }

  test("referencedCheckpoints (F4 chkpts_needed): shift sources pruned to actual refs") {
    // case 04: all shifted regions source from checkpoint 0
    val c1 = new ChunkDedup.Chain(spark, 8L)
    c1.checkpoint(ChunkDedup.chunkify(spark, "ABCDEFGH", 1))
    val r1 = c1.checkpoint(ChunkDedup.chunkify(spark, "IJABCDEK", 1))
    assert(r1.referencedCheckpoints.collect().map(_.getInt(0)).toSet == Set(0))
    // case 10: shifted leaves source from in-checkpoint winners (chkpt 1)
    val c2 = new ChunkDedup.Chain(spark, 8L)
    c2.checkpoint(ChunkDedup.chunkify(spark, "MNXYOPQR", 1))
    val r2 = c2.checkpoint(ChunkDedup.chunkify(spark, "IJXYIJJI", 1))
    assert(r2.referencedCheckpoints.collect().map(_.getInt(0)).toSet == Set(1))
  }

  test("ragged (non-power-of-two) chunk counts roundtrip") {
    val step0 = "ABCDEFGHIJK" // 11 chunks
    val step1 = "ABCXYFGHIJK"
    val (chain, store) = storeChain(11L)
    chain.checkpoint(ChunkDedup.chunkify(spark, step0, 1))
    chain.checkpoint(ChunkDedup.chunkify(spark, step1, 1))
    assert(restartString(store, 0, 11) == step0)
    assert(restartString(store, 1, 11) == step1)
  }

  test("local-sweep and distributed paths agree (labels, counts, shift sources, restart)") {
    // same inputs through both execution paths ⇒ identical region counts,
    // per-leaf labels, shift metadata and restarts from each path's store.
    // The default is the local-sweep driver pass; the distributed regime
    // forces the per-level distributed sweep.
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shiftMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    for ((s0, s1, fo, sd, id) <- goldenVectors) {
      val variants = Seq(
        "localsweep" -> storeChain(8L),
        "distributed" -> withRegime("distributed")(storeChain(8L)))
      val rs = variants.map { case (name, (chain, store)) =>
        chain.checkpoint(ChunkDedup.chunkify(spark, s0, 1))
        val r = chain.checkpoint(ChunkDedup.chunkify(spark, s1, 1))
        assert((r.numFirstOcur, r.numShiftDupl) == ((fo, sd)), s"case $id ($name)")
        assert(restartString(store, 1, 8) == s1, s"case $id ($name) restart")
        (name, r)
      }
      val (_, base) = rs.head
      for ((name, r) <- rs.tail) {
        assert(labelMap(r.labels) == labelMap(base.labels), s"case $id $name labels")
        assert(shiftMap(r.shiftLeafMap) == shiftMap(base.shiftLeafMap),
          s"case $id $name shift sources")
      }
      // region-size histogram (r5, reference STATS): its per-label totals
      // equal the region counts
      val byLabel = base.regionSizes.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      assert(byLabel.getOrElse(ChunkDedup.FIRST, 0L) == base.numFirstOcur,
        s"case $id FIRST root count vs histogram")
      assert(byLabel.getOrElse(ChunkDedup.SHIFT, 0L) == base.numShiftDupl,
        s"case $id SHIFT root count vs histogram")
    }
  }

  test("cross-session restart: any checkpoint reconstructs from the store ALONE") {
    // the reference rebuilds any checkpoint from incremental FILES with no
    // in-memory chain state (restart_chkpt_files.cpp:171-195) — here: build
    // a chain against a SnapshotStore, drop the chain, reconstruct every
    // checkpoint via restartFromStore (reads only committed parquet)
    val root = java.nio.file.Files.createTempDirectory("graft_chunk_store").toString
    val store = new graft.state.SnapshotStore(spark, root)
    val rnd = new scala.util.Random(7)
    val n = 32
    val alphabet = "ABCDEFGH"
    var cur = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[String]
    locally {
      val chain = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
      for (step <- 0 until 4) {
        if (step > 0)
          for (i <- 0 until n if rnd.nextDouble() < 0.15)
            cur(i) = alphabet(rnd.nextInt(alphabet.length))
        val s = new String(cur)
        snapshots += s
        chain.checkpoint(ChunkDedup.chunkify(spark, s, 1))
      }
    } // chain out of scope: only the store survives
    val fresh = new graft.state.SnapshotStore(spark, root) // new handle, files only
    for (cid <- snapshots.indices) {
      // every restart below also re-verifies the committed full-buffer MD5
      // (restartFromStore requires it when present)
      assert(fresh.manifestJson("chunk_first", cid).contains("\"full_md5\""),
        s"checkpoint $cid manifest lacks the full-buffer digest")
      val rows = ChunkDedup.restartFromStore(spark, fresh, cid).collect()
      assert(rows.length == n, s"checkpoint $cid: ${rows.length}/$n chunks")
      val got = rows.sortBy(_.getLong(0)).map(_.getString(1)).mkString
      assert(got == snapshots(cid), s"checkpoint $cid mismatch")
    }
  }

  test("restart scan pruning: only REFERENCED checkpoints are read (F4 chkpts_needed)") {
    // A 6-checkpoint chain where checkpoint 5 is built ONLY from fresh
    // content and checkpoint-0 content: restartFromStore(5) must jump its
    // claim scan straight from 5 to 0 — the reference's chkpts_needed
    // pruning (list_approach.cpp:98-110) — never touching 4..1. The store's
    // read counter proves it: 5 reads (init + first/shift of 5 and of 0)
    // instead of 13 with an unpruned walk.
    val root = java.nio.file.Files.createTempDirectory("graft_chunk_prune").toString
    val store = new graft.state.SnapshotStore(spark, root)
    val n = 32
    def rep(s: String) = (s * (n / s.length + 1)).take(n)
    val steps = Seq( // disjoint alphabets ⇒ no FIXED fall-through at 5
      rep("abcdefgh"), rep("ijklmnop"), rep("qrstuvwx"), rep("01234567"),
      rep("ABCDEFGH"), rep("IJKLabcd")) // 5 = fresh I..L + cp0's a..d
    locally {
      val chain = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
      steps.foreach(s => chain.checkpoint(ChunkDedup.chunkify(spark, s, 1)))
    }
    // both regimes: the driver walk and the forced Spark loop
    for (regime <- Seq("auto", "distributed")) {
      val fresh = new graft.state.SnapshotStore(spark, root) // counter at 0
      val rows = withRegime(regime)(ChunkDedup.restartFromStore(spark, fresh, 5)).collect()
      assert(rows.length == n)
      assert(rows.sortBy(_.getLong(0)).map(_.getString(1)).mkString == steps(5))
      assert(fresh.readCount <= 6, s"restart (regime $regime) read " +
        s"${fresh.readCount} store snapshots — scan not pruned to refs")
    }
  }

  test("a duplicated + missing chunk position fails the checkpoint on every path") {
    // positions 0..6 and 6 again: the row count is right, 7 is missing;
    // both ChunkDedup paths, then both TreeLowRoot chains
    import spark.implicits._
    val chunks = "ABCDEFGH".zipWithIndex
      .map { case (c, p) => (math.min(p, 6).toLong, c.toString) }.toDF("pos", "chunk")
    for ((name, checkpoint) <- Seq[(String, org.apache.spark.sql.DataFrame => Any)](
        "localsweep" -> new ChunkDedup.Chain(spark, 8L).checkpoint _,
        "distributed" -> withRegime("distributed")(new ChunkDedup.Chain(spark, 8L)).checkpoint _,
        "lowroot serial" -> new TreeLowRoot.Chain(spark, 8L).checkpoint _,
        "lowroot distributed" ->
          withRegime("distributed")(new TreeLowRoot.DistChain(spark, 8L)).checkpoint _)) {
      val e = intercept[IllegalArgumentException](checkpoint(chunks))
      assert(e.getMessage.contains("chunk positions are not a permutation of 0..7"),
        s"$name: ${e.getMessage}")
    }
  }

  test("corrupt stores fail restart on both paths: missing or duplicated FIRST row, tampered full_md5") {
    import java.nio.file.{Files, Path, Paths}
    val n = 32
    val steps = Seq("ABCDEFGH" * 4, "ABCDXYZW" * 4)
    def build(): String = {
      val root = Files.createTempDirectory("graft_corrupt").toString
      val chain = new ChunkDedup.Chain(spark, n.toLong,
        store = Some(new graft.state.SnapshotStore(spark, root)))
      steps.foreach(s => chain.checkpoint(ChunkDedup.chunkify(spark, s, 1)))
      root
    }
    def snapshot0(root: String): Path = Paths.get(root, "chunk_first", "snapshot=0")
    // rewrite checkpoint 0's chunk_first, keeping its manifest metadata
    def rewriteFirst(root: String)(
        edit: Seq[org.apache.spark.sql.Row] => Seq[org.apache.spark.sql.Row]): Unit = {
      val st = new graft.state.SnapshotStore(spark, root)
      val df = st.read("chunk_first", 0)
      val rows = df.collect().toSeq
      val meta = Seq("num_chunks", "full_md5").map { k =>
        k -> (s""""$k":\\s*"([^"]+)"""").r
          .findFirstMatchIn(st.manifestJson("chunk_first", 0)).get.group(1)
      }.toMap
      Files.walk(snapshot0(root)).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      st.commitLocal("chunk_first", 0, df.schema, edit(rows), meta)
    }
    val missing = build() // position 0 is a FIRST row of checkpoint 0
    rewriteFirst(missing)(_.filterNot(_.getLong(0) == 0L))
    val duplicated = build()
    rewriteFirst(duplicated)(rows => rows :+ rows.find(_.getLong(0) == 0L).get)
    val tampered = build()
    val zeros = "0" * 32
    val mf = snapshot0(tampered).resolve("_MANIFEST.json")
    Files.write(mf, new String(Files.readAllBytes(mf), "UTF-8")
      .replaceFirst(""""full_md5":\s*"[0-9a-f]+"""", s""""full_md5": "$zeros"""")
      .getBytes("UTF-8"))
    val intact = build()
    for (regime <- Seq("auto", "distributed")) {
      def restart(root: String, cid: Int) = withRegime(regime)(
        ChunkDedup.restartFromStore(spark, new graft.state.SnapshotStore(spark, root), cid))
      def failure(root: String): String =
        intercept[IllegalArgumentException](restart(root, 0)).getMessage
      def resolvedOnly(msg: String): Option[Int] =
        s"restart\\(0\\) resolved only (\\d+) of $n positions".r
          .findFirstMatchIn(msg).map(_.group(1).toInt)
      val m = failure(missing)
      assert(resolvedOnly(m).exists(_ < n), s"regime $regime, missing FIRST row: $m")
      val d = failure(duplicated)
      assert(resolvedOnly(d).exists(_ > n), s"regime $regime, duplicated FIRST row: $d")
      val t = failure(tampered)
      assert(t.contains(s"!= committed $zeros"), s"regime $regime, tampered md5: $t")
      for (cid <- steps.indices)
        assert(restart(intact, cid).collect().sortBy(_.getLong(0)).map(_.getString(1))
          .mkString == steps(cid), s"regime $regime, intact restart($cid)")
    }
  }

  test("thin distributed sweep matches the local path at 4096 chunks") {
    // big enough that frontier thinning matters (12 tree levels); both
    // paths must agree on region counts AND leaf labels
    val rnd = new scala.util.Random(11)
    val n = 4096
    val alphabet = "AB" // heavy duplication → deep coalescing forests
    def randStr() = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val s0 = randStr()
    val s1 = {
      val a = s0.toCharArray
      for (i <- 0 until n if rnd.nextDouble() < 0.05)
        a(i) = alphabet(rnd.nextInt(alphabet.length))
      new String(a)
    }
    val dist = withRegime("distributed")(new ChunkDedup.Chain(spark, n.toLong))
    dist.checkpoint(ChunkDedup.chunkify(spark, s0, 1))
    val rd = dist.checkpoint(ChunkDedup.chunkify(spark, s1, 1))
    val loc = new ChunkDedup.Chain(spark, n.toLong)
    loc.checkpoint(ChunkDedup.chunkify(spark, s0, 1))
    val rl = loc.checkpoint(ChunkDedup.chunkify(spark, s1, 1))
    assert((rd.numFirstOcur, rd.numShiftDupl) == ((rl.numFirstOcur, rl.numShiftDupl)))
    val ld = rd.labels.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ll = rl.labels.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ld == ll)
  }

  test("subtreeLeafPositions: ragged heaps enumerate non-contiguous leaf positions left-to-right") {
    // n=5: leaves are nodes 4..8 (positions 0..4); node 1's subtree is
    // {3,4,7,8} with leaves {7,8,4} → positions {3,4,0}, and LEFT-TO-RIGHT
    // order is (3, 4, 0): the documented case where the reference's
    // contiguous-span arithmetic cannot describe a region
    assert(ChunkDedup.subtreeLeafPositions(1L, 5L).toSeq == Seq(3L, 4L, 0L))
    assert(ChunkDedup.subtreeLeafPositions(2L, 5L).toSeq == Seq(1L, 2L))
    assert(ChunkDedup.subtreeLeafPositions(0L, 5L).toSeq == Seq(3L, 4L, 0L, 1L, 2L))
    assert(ChunkDedup.subtreeLeafPositions(6L, 5L).toSeq == Seq(2L))
    // perfect tree: contiguous ascending
    assert(ChunkDedup.subtreeLeafPositions(1L, 4L).toSeq == Seq(0L, 1L))
    assert(ChunkDedup.subtreeLeafPositions(0L, 8L).toSeq == (0L until 8L))
  }

  test("region-compacted shift store: expansion covers exactly the shifted leaves, both sweep paths restart byte-identically, and regions actually compact") {
    // ragged n (not a power of two) + a 2-letter alphabet ⇒ deep coalescing
    // forests: the committed shift section must be one row per REGION root
    // (reference layout, tree_approach.cpp:593-622), restart must expand it
    // back to the exact shifted-leaf positions, and the local and thin-sweep
    // paths must commit stores that reconstruct identical bytes.
    val n = 96
    val rnd = new scala.util.Random(23)
    val alphabet = "AB"
    var cur = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
    val steps = scala.collection.mutable.ArrayBuffer.empty[String]
    for (step <- 0 until 3) {
      if (step > 0)
        for (i <- 0 until n if rnd.nextDouble() < 0.1)
          cur(i) = alphabet(rnd.nextInt(alphabet.length))
      steps += new String(cur)
    }
    def buildStore(regime: String): (graft.state.SnapshotStore, Seq[ChunkDedup.ChkptResult]) =
      withRegime(regime) {
        val root = java.nio.file.Files.createTempDirectory("graft_regions").toString
        val store = new graft.state.SnapshotStore(spark, root)
        val chain = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
        val rs = steps.map(s => chain.checkpoint(ChunkDedup.chunkify(spark, s, 1)))
        (store, rs.toSeq)
      }
    val (localStore, localRs) = buildStore("auto")
    val (distStore, _) = buildStore("distributed")
    for (cid <- steps.indices) {
      // one committed row per region root (the compaction claim itself)
      assert(localStore.committedRows("chunk_shift", cid) ==
        localRs(cid).numShiftDupl, s"cid $cid region-row count")
      // expansion covers exactly the shifted leaf positions
      val expanded = ChunkDedup.expandShiftRegions(spark,
        localStore.read("chunk_shift", cid), n.toLong)
        .select("pos").collect().map(_.getLong(0)).sorted
      val perLeaf = localRs(cid).shiftLeafMap
        .select("pos").collect().map(_.getLong(0)).sorted
      assert(expanded.toSeq == perLeaf.toSeq, s"cid $cid expansion positions")
      // both execution paths' stores reconstruct the exact bytes
      for (store <- Seq(localStore, distStore)) {
        val got = ChunkDedup.restartFromStore(spark, store, cid).collect()
          .sortBy(_.getLong(0)).map(_.getString(1)).mkString
        assert(got == steps(cid), s"cid $cid restart bytes")
      }
    }
  }

  test("randomized multi-checkpoint roundtrip (tree_chkpt analogue)") {
    val rnd = new scala.util.Random(1931) // reference generator seed
    val n = 64
    val alphabet = "ABCDEFGH"
    var cur = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
    val (chain, store) = storeChain(n.toLong)
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[String]
    for (step <- 0 until 4) {
      if (step > 0) {
        // Sparse perturbation: flip ~10% of chunks; Swap: exchange two blocks
        for (i <- 0 until n if rnd.nextDouble() < 0.1)
          cur(i) = alphabet(rnd.nextInt(alphabet.length))
        val (b1, b2) = (rnd.nextInt(n / 16), rnd.nextInt(n / 16))
        val tmp = cur.slice(b1 * 16, b1 * 16 + 16)
        Array.copy(cur, b2 * 16, cur, b1 * 16, 16)
        Array.copy(tmp, 0, cur, b2 * 16, 16)
      }
      val s = new String(cur)
      snapshots += s
      chain.checkpoint(ChunkDedup.chunkify(spark, s, 1))
    }
    for (cid <- snapshots.indices)
      assert(restartString(store, cid, n) == snapshots(cid), s"checkpoint $cid")
  }
}

class ChunkDedupLocalSweepSpec extends AnyFunSuite with SparkTestBase {

  /** `k` checkpoints of `n` chunks of `width` letters a–d (few distinct
    * chunks ⇒ in-checkpoint duplicates); each later one swaps two aligned
    * blocks of n/16 chunks, from step 4 on copies a block of checkpoint 0
    * to another block (a shift onto an older checkpoint), and rewrites ~3%
    * of the chunks with fresh uppercase content.
    */
  private def chain(n: Int, k: Int, width: Int, seed: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    def word(base: Char, letters: Int) =
      Seq.fill(width)((base + rnd.nextInt(letters)).toChar).mkString
    val cur = Array.fill(n)(word('a', 4))
    val first = cur.toSeq
    val blk = math.max(1, n / 16)
    (0 until k).map { step =>
      if (step > 0) {
        val nb = n / blk
        def otherBlock(b: Int) = (b + 1 + rnd.nextInt(nb - 1)) % nb
        val b1 = rnd.nextInt(nb); val b2 = otherBlock(b1)
        val tmp = cur.slice(b1 * blk, b1 * blk + blk)
        Array.copy(cur, b2 * blk, cur, b1 * blk, blk)
        Array.copy(tmp, 0, cur, b2 * blk, blk)
        if (step >= 4) {
          val b = rnd.nextInt(nb)
          Array.copy(first.toArray, otherBlock(b) * blk, cur, b * blk, blk)
        }
        for (i <- 0 until n if rnd.nextDouble() < 0.03) cur(i) = word('A', 26)
      }
      cur.toSeq
    }
  }

  private def frame(chunks: Seq[String]) = {
    import spark.implicits._
    chunks.zipWithIndex.map { case (c, p) => (p.toLong, c) }.toDF("pos", "chunk")
  }

  private def restarted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().sortBy(_.getLong(0)).map(_.getString(1)).toSeq

  test("full Merkle tree: every forest internal localForests builds is a slot of it, on any labeling") {
    val rnd = new scala.util.Random(5)
    val labels = Seq(ChunkDedup.FIRST, ChunkDedup.FIXED, ChunkDedup.SHIFT)
    for (n <- Seq(1, 2, 5, 8, 11, 96, 1000)) {
      // few distinct chunks ⇒ deep uniform-label subtrees
      val leafDigests = Array.fill(n)(graft.functions.Impl.murmur128Digest(
        Array[Byte](rnd.nextInt(3).toByte)))
      val tree = ChunkDedup.Chain.merkleTree(leafDigests.flatten)
      assert(tree.length == 16 * (2 * n - 1))
      for (p <- 0 until n)
        assert(ChunkDedup.Chain.slot(tree, n - 1 + p).toSeq == leafDigests(p).toSeq)
      for (uniform <- Seq(false, true)) {
        // random labels, then one label everywhere: the whole tree is a forest
        val leaves = Array.tabulate(n)(p => ((n - 1 + p).toLong, leafDigests(p),
          if (uniform) ChunkDedup.FIRST else labels(rnd.nextInt(3))))
        val (fi, fx, sh) = ChunkDedup.Chain.localForests(leaves)
        for ((u, d) <- fi ++ fx ++ sh)
          assert(ChunkDedup.Chain.slot(tree, u.toInt).toSeq == d.toSeq, s"n=$n node $u")
        if (uniform)
          assert(fi.map(_._1).sorted == (0L until n - 1L), s"n=$n full forest")
      }
    }
  }

  // a tiny chain and one of the perfbench warm-up's size: block swaps,
  // fresh chunks and in-checkpoint duplicates exercise every label; the
  // single driver pass keeps each checkpoint to one digest + MD5 job, one
  // probe job (a broadcast digest set filters the map), one insert and the
  // chunk_first write
  for (n <- Seq(64, 4608))
    test(s"local-sweep checkpoint job bound: <= 4 jobs at every checkpoint ($n chunks, store-backed)") {
      val steps = chain(n, 3, 2, 17)
      val root = java.nio.file.Files.createTempDirectory("graft_jobbound").toString
      val store = new graft.state.SnapshotStore(spark, root)
      val c = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
      val (rs, jobs) = steps.map(s => withJobs(c.checkpoint(frame(s)))).unzip
      for (cid <- steps.indices)
        assert(jobs(cid) <= 4, s"checkpoint $cid ran ${jobs(cid)} jobs")
      assert(rs.last.numFirstOcur > 0 && rs.last.numShiftDupl > 0)
      assert(restarted(ChunkDedup.restartFromStore(spark, store, 2)) == steps(2))
    }

  /** The job-bound chain's store: 3 local-sweep checkpoints of 4,608
    * chunks, shared by the restart tests below.
    */
  private lazy val sweepStore: (graft.state.SnapshotStore, Seq[Seq[String]]) = {
    val n = 4608
    val steps = chain(n, 3, 2, 17)
    val root = java.nio.file.Files.createTempDirectory("graft_sweepstore").toString
    val store = new graft.state.SnapshotStore(spark, root)
    val c = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
    steps.foreach(s => c.checkpoint(frame(s)))
    (store, steps)
  }

  test("restart job bound: restartFromStore of the last 4608-chunk checkpoint runs <= 2 x referenced checkpoints + 3 jobs") {
    val (store, steps) = sweepStore
    val cid = steps.length - 1
    val reads0 = store.readCount
    val (out, jobs) = withJobs(ChunkDedup.restartFromStore(spark, store, cid))
    assert(restarted(out) == steps(cid))
    // the walk reads first + shift of each checkpoint it visits, and can
    // visit at most every checkpoint up to cid
    val visited = (store.readCount - reads0) / 2
    assert(visited >= 1 && visited <= cid + 1, s"${store.readCount - reads0} store reads")
    assert(jobs <= 2 * visited + 3,
      s"restart($cid) ran $jobs jobs over $visited referenced checkpoints")
  }

  test("restart parity: the driver walk and the Spark loop return identical rows") {
    val n = 48 // ragged, 6 checkpoints, checkpoint 5 shifts onto checkpoint 0
    val steps48 = chain(n, 6, 2, 41)
    val root = java.nio.file.Files.createTempDirectory("graft_restart_parity").toString
    val store48 = new graft.state.SnapshotStore(spark, root)
    val c = new ChunkDedup.Chain(spark, n.toLong, store = Some(store48))
    val rs = steps48.map(s => c.checkpoint(frame(s)))
    assert(rs(5).referencedCheckpoints.collect().map(_.getInt(0)).contains(0))
    val (sweep, sweepSteps) = sweepStore
    for ((store, steps) <- Seq((store48, steps48), (sweep, sweepSteps)); cid <- steps.indices) {
      def rows(regime: String) = withRegime(regime)(ChunkDedup.restartFromStore(spark, store,
        cid)).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val driver = rows("auto")
      assert(driver == rows("distributed"), s"n=${steps(cid).length} restart($cid) regimes differ")
      assert(driver.map(_._2) == steps(cid), s"n=${steps(cid).length} restart($cid) bytes")
    }
  }

  // Builds a local-sweep and a distributed store-backed chain over `steps`,
  // checks that every checkpoint commits the same tables and manifest meta
  // on both, and restarts every checkpoint of each store.
  private def storeParity(n: Int, steps: Seq[Seq[String]]): Unit = {
    def build(regime: String) = withRegime(regime) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_parity_$regime").toString
      val store = new graft.state.SnapshotStore(spark, root)
      val c = new ChunkDedup.Chain(spark, n.toLong, store = Some(store))
      (regime, store, steps.map(s => c.checkpoint(frame(s))))
    }
    val stores = Seq(build("auto"), build("distributed"))
    if (steps.length == 6)
      for ((name, _, rs) <- stores)
        assert(rs(5).referencedCheckpoints.collect().map(_.getInt(0)).contains(0),
          s"$name: no shift onto checkpoint 0")
    for (cid <- steps.indices) {
      def rows(st: graft.state.SnapshotStore, t: String) =
        st.read(t, cid).collect().map(_.toSeq).toSet
      def meta(st: graft.state.SnapshotStore, k: String) =
        (s""""$k":\\s*"([^"]+)"""").r
          .findFirstMatchIn(st.manifestJson("chunk_first", cid)).map(_.group(1))
      val (_, base, _) = stores.head
      assert(rows(base, "chunk_shift").nonEmpty || cid == 0)
      for ((name, st, _) <- stores.tail) {
        for (t <- Seq("chunk_first", "chunk_shift"))
          assert(rows(st, t) == rows(base, t), s"n=$n $name $t $cid differs from the local sweep")
        for (k <- Seq("num_chunks", "full_md5"))
          assert(meta(base, k).nonEmpty && meta(st, k) == meta(base, k),
            s"n=$n $name manifest $k $cid differs from the local sweep")
      }
      for ((name, st, _) <- stores)
        assert(restarted(ChunkDedup.restartFromStore(spark, st, cid)) == steps(cid),
          s"n=$n $name restart($cid)")
    }
  }

  test("committed-store parity: local-sweep and distributed paths commit identical tables and manifest meta") {
    storeParity(96, chain(96, 3, 1, 29)) // 3 ragged checkpoints of one-letter chunks
  }

  test("in-session restart: a 6-checkpoint chain restarts every checkpoint byte-exactly on both Spark paths") {
    // 6 checkpoints of 48 two-letter chunks whose checkpoint 5 shifts onto
    // checkpoint 0, past the chain in between; the chain commits to a store
    // and every checkpoint restarts from it in the same session
    storeParity(48, chain(48, 6, 2, 41))
  }
}
