package graft

import graft.dedup.{ChunkDedup, TreeLowRoot}
import org.scalatest.funsuite.AnyFunSuite

/** J3 TreeLowRoot election — golden vectors matching
  * /root/reference/include/reference_impl.hpp:265-399 semantics
  * (dedup_low_root_ref) worked through by hand. chunk_size = 1, 4 chunks
  * (nodes 0..6, leaves 3..6).
  */
class TreeLowRootSpec extends AnyFunSuite with SparkTestBase {

  private def labelsOf(r: TreeLowRoot.LowRootResult): Map[Long, String] =
    r.labels.collect().map(x => x.getLong(0) -> x.getString(1)).toMap

  test("low-root election picks the copy anchoring the larger region (differs from low-offset)") {
    // cp0 = "aycd" (baseline), cp1 = "xyxw":
    //   leaf 4 (y) is FIXED; x at leaves 3 and 5, w at 6 are fresh.
    //   The FIRST_DUPL forest builds only node 2 = H(x‖w) (children 5,6 both
    //   fresh; node 1's child 4 is FIXED). Climbs: leaf 3 → root 3 (parent
    //   not in the fresh-dup map), leaf 5 → root 2. min root = 2 ⇒ the
    //   SECOND copy (leaf 5) is elected FIRST_OCUR — low-offset would pick
    //   leaf 3.
    val chain = new TreeLowRoot.Chain(spark, 4L)
    val r0 = chain.checkpoint(ChunkDedup.chunkify(spark, "aycd", 1))
    assert(r0.numFirstOcur == 4 && r0.numShiftDupl == 0)
    val r1 = chain.checkpoint(ChunkDedup.chunkify(spark, "xyxw", 1))
    val l1 = labelsOf(r1)
    assert(l1(5L) == ChunkDedup.FIRST, s"low-root winner must be leaf 5: $l1")
    assert(l1(3L) == ChunkDedup.SHIFT)
    assert(l1(4L) == ChunkDedup.FIXED)
    assert(l1(6L) == ChunkDedup.FIRST)
    assert((r1.numFirstOcur, r1.numShiftDupl, r1.numFixedDupl) == ((2L, 1L, 1L)))

    // contrast: the low-offset (J2) election on identical input elects leaf 3
    val lo = new ChunkDedup.Chain(spark, 4L)
    lo.checkpoint(ChunkDedup.chunkify(spark, "aycd", 1))
    val loLabels = lo.checkpoint(ChunkDedup.chunkify(spark, "xyxw", 1))
      .labels.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(loLabels(3L) == ChunkDedup.FIRST && loLabels(5L) == ChunkDedup.SHIFT)
  }

  test("agreement case: isolated copies fall back to lowest leaf") {
    // cp0 = "abcd", cp1 = "xbxd": both x copies are isolated (no fresh
    // sibling), roots are the leaves themselves ⇒ lowest leaf wins, same as
    // low-offset.
    val chain = new TreeLowRoot.Chain(spark, 4L)
    chain.checkpoint(ChunkDedup.chunkify(spark, "abcd", 1))
    val r1 = chain.checkpoint(ChunkDedup.chunkify(spark, "xbxd", 1))
    val l1 = labelsOf(r1)
    assert(l1(3L) == ChunkDedup.FIRST && l1(5L) == ChunkDedup.SHIFT)
    assert(l1(4L) == ChunkDedup.FIXED && l1(6L) == ChunkDedup.FIXED)
  }

  test("root pruning fixpoint: ambiguous shared roots are erased before election") {
    // cp0 = "qrst", cp1 = "xyxx": everything fresh in cp1; the full tree
    // becomes FIRST_DUPL. Leaves 3 and 5 first share root 0 (erased: two
    // members climb to it), then 5 and 6 share root 2 — the reference's
    // min-tracking scan keeps it (2 is never the running min after 3's root
    // 1), so election sees roots {3→1, 5→2, 6→2} and picks leaf 3.
    val chain = new TreeLowRoot.Chain(spark, 4L)
    chain.checkpoint(ChunkDedup.chunkify(spark, "qrst", 1))
    val r1 = chain.checkpoint(ChunkDedup.chunkify(spark, "xyxx", 1))
    val l1 = labelsOf(r1)
    assert(l1(3L) == ChunkDedup.FIRST && l1(4L) == ChunkDedup.FIRST)
    assert(l1(5L) == ChunkDedup.SHIFT && l1(6L) == ChunkDedup.SHIFT)
    assert((r1.numFirstOcur, r1.numShiftDupl) == ((2L, 2L)))
  }

  test("driver-pure replayChain matches the Spark chain label-for-label (oracle soundness)") {
    // the dump oracle for chunk_lowroot_labels rests on this parity: the
    // pure-JVM replay (Impl.murmur128Digest + serial elect, zero Spark)
    // must agree with the chain the query runs, on a fixture that exercises
    // FIXED/SHIFT/forest/pruning across three checkpoints
    val steps = Seq("abcdabcdxyzw" * 16, ("abcdabcdQRSw" * 16), ("QQQQabcdxyzw" * 16))
    def cb(t: String): Array[Array[Byte]] =
      t.grouped(1).map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val replay = TreeLowRoot.replayChain(steps.map(cb))
    val chain = new TreeLowRoot.Chain(spark, steps.head.length.toLong)
    for ((t, labels) <- steps.zip(replay)) {
      val r = chain.checkpoint(ChunkDedup.chunkify(spark, t, 1))
      val expect = labels.zipWithIndex
        .map { case (l, pos) => (steps.head.length - 1L + pos) -> l }.toMap
      assert(labelsOf(r) == expect)
    }
  }

  test("cross-checkpoint map: elected digests probe as SHIFT later") {
    val chain = new TreeLowRoot.Chain(spark, 4L)
    chain.checkpoint(ChunkDedup.chunkify(spark, "aycd", 1))
    chain.checkpoint(ChunkDedup.chunkify(spark, "xyxw", 1))
    val r2 = chain.checkpoint(ChunkDedup.chunkify(spark, "xxxx", 1))
    val l2 = labelsOf(r2)
    assert(l2(3L) == ChunkDedup.FIXED) // same digest, same position
    assert(l2(5L) == ChunkDedup.FIXED)
    assert(l2(4L) == ChunkDedup.SHIFT) // x was elected in cp1 → global hit
    assert(l2(6L) == ChunkDedup.SHIFT)
    assert(r2.numFirstOcur == 0)
  }
}
