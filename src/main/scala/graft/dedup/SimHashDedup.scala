package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.gf

/** SimHash-64 fingerprints with Hamming-ball probing (north_star).
  *
  * Candidate generation is the pigeonhole block probe: split the 64-bit
  * fingerprint into 4×16-bit blocks; any two fingerprints within Hamming
  * distance ≤ 3 agree on at least one block, so grouping by (block index,
  * block value) is a *bounded theta-join expressed as 4 equi-joins* —
  * exactly the SURVEY.md §2.4 note ("union of exact joins over bit-flip
  * enumerations", here block enumeration). Pairs are then filtered by true
  * Hamming distance; precision against the Jaccard oracle is preserved by
  * feeding survivors into the shared exact-Jaccard verifier.
  */
object SimHashDedup {

  /** (doc_id, sim64) fingerprints; empty docs excluded. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), gf.simhash64(col(textCol)).as("sim64"),
        length(trim(col(textCol))).as("_len")) // kernel normalizes
      .filter(col("_len") > 0)
      .drop("_len")

  /** (key, doc_id) probe rows from the multi-block keys (Manku-style): pairs
    * within the Hamming ball share ≥1 key; ~32-bit keys keep chance
    * collisions (⇒ bucket sizes ⇒ pair-generation cost) linear where single
    * 16-bit blocks go quadratic. Feed into MinHashLSH.pairsFromKeyRows —
    * in the pipeline these rows UNION with the band rows so both candidate
    * sources share one shuffle + one bucket aggregation.
    */
  def keyRows(fps: DataFrame, cfg: DedupConfig): DataFrame =
    fps.select(col("doc_id"),
      explode(gf.simhashKeys(col("sim64"), cfg.simhashBlocks, cfg.simhashMaxHamming))
        .as("key"))

  /** Candidate pairs (a < b) within Hamming distance cfg.simhashMaxHamming. */
  def candidatePairs(fps: DataFrame, cfg: DedupConfig): DataFrame = {
    val cand = MinHashLSH.pairsFromKeyRows(keyRows(fps, cfg), cfg)
    val fa = fps.select(col("doc_id").as("a"), col("sim64").as("sim_a"))
    val fb = fps.select(col("doc_id").as("b"), col("sim64").as("sim_b"))
    cand.join(fa, "a").join(fb, "b")
      .filter(gf.hamming(col("sim_a"), col("sim_b")) <= cfg.simhashMaxHamming)
      .select(col("a"), col("b"))
   }
}
