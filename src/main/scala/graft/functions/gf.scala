package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{exprs, Bridge}

/** Column-facing API over the graft Catalyst expressions (SURVEY.md §2.11).
  * Mirrors `org.apache.spark.sql.functions` style: pure plan builders, no
  * action, codegen-friendly.
  */
object gf {
  import org.apache.spark.sql.graftx.exprs._

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)
  private def x(col: Column) = Bridge.expression(col)

  /** 16-byte murmur3_x64_128 (seed 0) digest of a string/binary column. */
  def murmur128(col: Column): Column = c(Murmur128Digest(x(col)))

  /** 64-bit content hash (h1 of murmur128, seed 0). */
  def hash64(col: Column): Column = c(Hash64(x(col)))

  /** Whole-document normalized content key (case/whitespace-insensitive,
    * single kernel pass — replaces hash64(normalizeText(...)) on hot paths).
    */
  def contentKey64(col: Column): Column = c(ContentKey64(x(col)))

  /** Distinct sorted k-word-shingle hashes of a text column. */
  def shingles(col: Column, k: Int): Column = c(Shingles(x(col), k))

  /** MinHash signature over shingle hashes. */
  def minhash(col: Column, numPerm: Int = 128, seed: Long = 42L): Column =
    c(MinHashSig(x(col), numPerm, seed))

  /** Fused features struct(sh, sig, sim64) in one tokenization pass. */
  def featureStruct(col: Column, k: Int, numPerm: Int = 128, seed: Long = 42L): Column =
    c(FeatureStruct(x(col), k, numPerm, seed))

  /** LSH band hashes of a MinHash signature. */
  def bands(col: Column, numBands: Int): Column = c(BandHashes(x(col), numBands))

  /** SimHash-64 fingerprint of a text column. */
  def simhash64(col: Column): Column = c(SimHash64(x(col)))

  /** Hamming distance between two long fingerprints. */
  def hamming(a: Column, b: Column): Column = c(HammingDist(x(a), x(b)))

  /** 16-bit block i of a simhash fingerprint (naive Hamming probe key). */
  def simhashBlock(h: Column, i: Int): Column =
    shiftrightunsigned(h, 16 * i).bitwiseAND(lit(0xffffL))

  /** Multi-block Hamming probe keys (any pair within Hamming distance d
    * shares ≥ 1 key) — the linear-at-scale probe.
    */
  def simhashKeys(h: Column, k: Int, d: Int): Column = c(SimHashKeys(x(h), k, d))

  /** Intersection size of two sorted distinct long-array columns. */
  def intersectSize(a: Column, b: Column): Column = c(IntersectSize(x(a), x(b)))

  /** Jaccard similarity of two sorted distinct shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = c(JaccardSim(x(a), x(b)))

  /** Whole-document rolling 64-bit fingerprint. */
  def fingerprint64(col: Column): Column = c(Fingerprint64(x(col)))

  /** Winnowing fingerprints array<struct<pos,hash>> (long-repeat candidates). */
  def winnow(col: Column, gram: Int, window: Int): Column =
    c(Winnow(x(col), gram, window))

  /** Verify + maximally extend a repeat anchor → struct(a_start,b_start,len)|null. */
  def extendMatch(textA: Column, textB: Column, posA: Column, posB: Column,
                  gram: Int): Column =
    c(ExtendMatch(x(textA), x(textB), x(posA), x(posB), gram))

  /** Streaming chain-head test for rows sorted by (a, b, pa − pb, pa) within
    * each partition (see exprs.ChainHead); use only directly above that sort. */
  def chainHead(a: Column, b: Column, pa: Column, pb: Column, gram: Int): Column =
    c(ChainHead(x(a), x(b), x(pa), x(pb), gram))

  /** Cosine similarity of two array<float> columns. */
  def cosine(a: Column, b: Column): Column = c(CosineSim(x(a), x(b)))

  /** Signed-random-projection LSH bucket of an array<float> embedding. */
  def srpBucket(col: Column, bits: Int, seed: Long = 42L): Column =
    c(SrpBucket(x(col), bits, seed))

  /** Web-text normalization used across the pipeline: lowercase, collapse
    * whitespace runs, trim. Built-ins only so it stays codegen'd.
    */
  def normalizeText(col: Column): Column =
    trim(regexp_replace(lower(col), "\\s+", " "))
}
