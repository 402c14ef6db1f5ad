package graft

import org.apache.spark.sql.SparkSession

/** The one driver-local vs distributed choice. Every site with a small-input
  * driver path decides through [[local]]: below its bound the input is
  * collected and processed on the driver (a chain of tiny Spark stages is
  * pure scheduling latency there); above it the distributed kernels run.
  * Each bound below is sized by the driver footprint its site holds at it.
  *
  * The session conf `spark.graft.regime` selects the regime for every site
  * at once: `auto` (the default) compares each site's size with its bound,
  * and `distributed` sends every site down its distributed path, so the
  * same specs and oracles certify the code that runs at scale. The key is
  * a `spark.*` key, so `spark-submit --conf spark.graft.regime=distributed`
  * reaches a session the program builds itself.
  */
object Regime {

  final val Key = "spark.graft.regime"
  private val Auto = "auto"
  private val Distributed = "distributed"

  /** Chunk-chain checkpoints up to this many chunks take ONE driver pass
    * each (`ChunkDedup.Chain`: one ordered digest + MD5 job, one
    * distinct-map probe, one insert, one chunk_first write); larger ones use
    * the per-level DataFrame sweep. Driver footprint at the bound: the
    * digest job's one task result (8 B position + 16 B digest per chunk,
    * 24 MB), kept as the next checkpoint's leaf digests (16 MB), the full
    * Merkle tree's 2n−1 16-byte slots (32 MB transient) with its label
    * pass's code and size arrays (10 MB), the probe's
    * broadcast set of ≤ 2n−1 digests and its hits (≈ 200 MB transient), and
    * the result's per-leaf label frame, a local relation of n rows (≈ 90 MB
    * while the caller holds the result) — a few hundred MB on the 8 g
    * driver heap. `ChunkDedup.restartFromStore` switches regime at the same
    * bound; its driver walk holds 28 MB of per-position claim and shift
    * arrays at 2²⁰ chunks, plus a broadcast src_pos → positions index of
    * ≈ 20 MB. Chunk CONTENT is never collected (the FIRST rows, the commit
    * and the restart's reconstruction stay distributed), so the bound is
    * set by digests, not by the buffer.
    */
  final val LOCAL_SWEEP_MAX: Long = 1L << 20

  /** Content bound of the incremental driver pass (`IncrementalDedup`):
    * accumulated plus fresh contents. JVM footprint at the bound (features
    * collected with primitive encoders, keys derived driver-side, probe
    * state in parallel long arrays, `MinHashLSH.boundedProbePairsLocalP`):
    * 64k contents × 1 KB signature ≈ 70 MB for the collected (ckey,
    * content_id, sig, sim64) rows, 64k × 52 keys × 16 B ≈ 55 MB for the
    * two key/element long arrays, plus the LongMap bucket buffers (~55 MB
    * of unboxed Long ArrayBuffers) and the emitted candidate tuples
    * (bounded by candidates, not keys) — ~200 MB transient peak on the 8 g
    * driver heap. The instance also keeps its content rows resident between
    * snapshots, for its whole life: ≈ 70 MB of signatures plus ≈ 130 MB of
    * shingle sets (~500 ints each) at the bound. Beyond it the snapshot
    * runs the distributed pass and the resident state is dropped (a 100-TB
    * chain crosses this in snapshot 0).
    */
  final val LOCAL_PROBE_MAX_CONTENTS: Long = 1L << 16

  /** Candidate-pair bound of the incremental driver pass's exact-Jaccard
    * verify: the driver's normalized candidate tuples (≤ 2¹⁶ (ckey, ckey)
    * pairs, a few MB), the ckey → shingle-set map over their ≤ 2·2¹⁶
    * endpoints (references into the resident content rows, no copies) and
    * ≤ 2¹⁶ sorted-merge intersections (~ms of driver CPU). Above it the
    * driver pass stops after committing `content`, and the distributed pass
    * resumes at the edges stage (its own probe, its own verify).
    */
  final val LOCAL_VERIFY_MAX_PAIRS: Int = 1 << 16

  /** Page-row bound of the incremental driver pass: the bounded
    * `pages_keyed` collect (url, doc_id, ckey), the previous snapshot's
    * (url, ckey) diff and the assignments lookup — 2¹⁷ rows of each
    * ≈ 30 MB transient; the instance keeps the last snapshot's url → ckeys
    * resident for the next diff. Dispatch compares `expectedPages`, else the previous
    * snapshot's row count × 6/5, against it; with neither (snapshot 0, no
    * hint) the collect itself is the gate.
    */
  final val LOCAL_ASSIGN_MAX_ROWS: Long = 1L << 17

  /** Edge sets up to this size cluster by driver union-find
    * (`ConnectedComponents.assignAll`: one collect, ~ms); beyond it the
    * distributed star rounds run. 2M edges × 16 B ≈ 32 MB — comfortably
    * driver-safe; at web scale the distributed path engages. The
    * incremental driver pass stops at the same edge count, which also
    * bounds the edges it keeps resident (≈ 64 MB of (a, b) pairs).
    */
  final val SMALL_GRAPH_MAX: Long = 2L * 1000 * 1000

  /** Corpora up to this many vectors train the IVF quantizer driver-local
    * (`Ann.ivfTopK`: ≤ 64k × 128-dim floats ≈ 32 MB collected once);
    * larger corpora use the distributed assign/mean iteration.
    */
  final val LOCAL_KMEANS_MAX: Int = 1 << 16

  /** Whether a site whose input has `size` elements runs its driver path:
    * under `auto`, iff `size` ≤ `bound`; under `distributed`, never, and
    * `size` is not evaluated. One runtime-conf lookup, no job. Any other
    * value of [[Key]] fails here, at the first site that reads it.
    */
  def local(spark: SparkSession, size: => Long, bound: Long): Boolean =
    spark.conf.get(Key, Auto) match {
      case Auto => size <= bound
      case Distributed => false
      case other => throw new IllegalArgumentException(
        s"$Key=$other: accepted values are $Auto and $Distributed")
    }
}
