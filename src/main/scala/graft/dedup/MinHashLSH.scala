package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.functions.gf

/** MinHash + LSH banding near-duplicate detection (north_star core).
  *
  * Reference analogue: the digest insert-or-probe J1 (SURVEY.md §2.4) with the
  * 128-bit exact digest replaced by banded MinHash keys, so "same content
  * elsewhere" generalizes to "Jaccard ≥ τ elsewhere".
  *
  * Scale shape (10¹²-doc design):
  *   - one narrow features table (doc_id, sh, sig, sim64) — computed in one
  *     codegen'd projection pass, no shuffle;
  *   - band explosion shuffles (key, doc_id) rows only (16 B a row, not
  *     documents);
  *   - bucket groups emit pairs bounded by `maxBucket` (star edges beyond) —
  *     boilerplate-hot buckets cost O(bucket), never O(bucket²);
  *   - candidate pairs deduped, then verified by exact shingle-set Jaccard.
  */
object MinHashLSH {

  /** (doc_id, sh, sig, sim64) in ONE tokenization pass — the pipeline's
    * feature table (a separate simhash pass would rescan and re-tokenize
    * every text; memory traffic is the local-mode scaling ceiling).
    */
  def featuresFused(docs: DataFrame, cfg: DedupConfig,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        gf.featureStruct(col(textCol), cfg.shingleK, cfg.numPerm, cfg.seed).as("f"))
      .select(col("doc_id"), col("f.sh").as("sh"), col("f.sig").as("sig"),
        col("f.sim64").as("sim64"))

  /** (key, doc_id) LSH probe rows — the band index is already folded into
    * each band hash, so the bare 64-bit key is the grouping key.
    */
  def bandKeyRows(features: DataFrame, cfg: DedupConfig): DataFrame =
    features.select(col("doc_id"), explode(gf.bands(col("sig"), cfg.bands)).as("key"))

  /** LSH band hashes and SimHash block-combination keys as ONE probe-key
    * stream over a (…, sig, sim64) feature frame: the `cols` columns, then
    * `key`, one row per key. Both families share the 64-bit key space and
    * the bounded probe. One explode over the concatenated key arrays reads
    * the frame once, where a union of two explodes scans it twice; NULL
    * features give zero keys either way.
    */
  def probeKeyRows(features: DataFrame, cfg: DedupConfig, cols: String*): DataFrame =
    features.select(cols.map(col) :+ explode(concat(gf.bands(col("sig"), cfg.bands),
      gf.simhashKeys(col("sim64"), cfg.simhashBlocks, cfg.simhashMaxHamming))).as("key"): _*)

  /** Candidate pairs (p < q) from bucketed probe rows with BOUNDED executor
    * memory — shared by every bucket-pair source (LSH bands, SimHash block
    * keys, winnow fingerprints, SRP buckets, the incremental batch).
    *
    * `keyRows` must have columns `keyCols :+ "e"` (element: an orderable
    * atomic type other than binary, or a struct of such fields — the scan
    * compares values with `==`). One hash exchange on the key columns, one sort by (key…, e),
    * then one streaming scan per key that buffers at most `maxBucket + 1`
    * rows:
    *
    *   - a key of ≤ maxBucket rows emits every pair of its distinct sorted
    *     member set;
    *   - past that, the scan streams star edges (min, e) — the first element
    *     in sort order is the min — one row in, ≤ one pair out.
    *
    * Pairs are yielded lazily. A boilerplate flood of 10⁸ rows on one key
    * therefore costs a sort (spillable) and a streaming pass, never a
    * per-key aggregation buffer; connectivity (what clustering needs) is
    * preserved by the star. Rows with a null key or a null element are
    * dropped before the scan: they emit nothing and count toward no bound.
    */
  def boundedBucketPairs(keyRows: DataFrame, keyCols: Seq[String],
                         maxBucket: Int): DataFrame =
    // CONTRACT: (key, e) rows should be unique — every caller's key family
    // emits one row per (key, element) by construction (band hashes, block
    // combinations, winnow positions, SRP table buckets). A violating
    // duplicate row can only DEMOTE its bucket to star edges early (the
    // bound counts rows) and duplicate star edges (callers dedup pairs); it
    // can never produce self-pairs.
    scanPairs(keyRows.select(keyCols.map(col) :+ col("e"): _*), keyCols, maxBucket,
      tagged = false)

  /** Incremental new-vs-accumulated candidate pairs through the SAME scan as
    * [[boundedBucketPairs]] — the probe-side analogue for an append-only
    * index (IncrementalDedup): emits only pairs touching a NEW element, so
    * per-snapshot edge sets stay disjoint and no old pair is ever
    * re-verified.
    *
    * `newRows` and `oldRows` carry columns `keyCols :+ "e"` and must be
    * element-disjoint (new content is registered exactly once — the caller's
    * invariant). Both sides are tagged `is_new` and take the one exchange;
    * the sort puts the flag between the key and the element, so a key's old
    * rows come first. Per key (the bound counts old and new rows):
    *
    *   - ≤ maxBucket rows: every pair of distinct members whose later
    *     member in sort order is new, as (old, new) or (smaller new,
    *     larger new); an old-only key emits nothing;
    *   - hot keys: star edges (anchor, e_new) streamed one-in/≤one-out, where
    *     anchor = the key's first row: the min OLD element when any exists
    *     (so a hot bucket's new minimum still links into the component its
    *     old members already form), else the min new element.
    *
    * Each unordered pair comes out once, in either orientation; callers
    * normalize with least/greatest (IncrementalDedup's distributed pass
    * does, then dedupes across keys). Null keys and elements are dropped
    * like the batch kernel's; the product caller's keys are `explode`d band
    * and SimHash hashes and its elements ckeys, neither ever null.
    *
    * A boilerplate band key with 10⁶ accumulated entries × 10³ new arrivals
    * therefore emits ≤10³ candidate rows, not 10⁹.
    */
  def boundedProbePairs(newRows: DataFrame, oldRows: DataFrame,
                        keyCols: Seq[String], maxBucket: Int): DataFrame = {
    // same unique-(key, e) caller contract as boundedBucketPairs (the
    // committed index tables hold one row per (content, key) by
    // construction); disjointness ⇒ the row counts add exactly
    val tag = (df: DataFrame, isNew: Boolean) =>
      df.select(keyCols.map(col) :+ col("e") :+ lit(isNew).as("is_new"): _*)
    scanPairs(tag(oldRows, false).unionByName(tag(newRows, true)), keyCols, maxBucket,
      tagged = true)
  }

  /** The exchange → sort → [[BucketPairs]] plan both kernels share. `rows`
    * has columns `keyCols :+ "e"`, plus a trailing boolean `is_new` when
    * `tagged`; the flag sorts between the key and the element.
    */
  private def scanPairs(rows0: DataFrame, keyCols: Seq[String], maxBucket: Int,
                        tagged: Boolean): DataFrame = {
    val k = keyCols.map(col)
    val rows = rows0.filter((k :+ col("e")).map(_.isNotNull).reduce(_ && _))
    // a struct element streams as its flat fields, so the scan never builds
    // nested rows; sorting by the fields in order is the struct's own order
    val fields = rows.schema("e").dataType match {
      case st: StructType => st.fields.toSeq.map(f => (col("e").getField(f.name), f))
      case t => Seq((col("e"), StructField("e", t, true)))
    }
    val eCols = fields.indices.map(i => col(s"e$i"))
    val flag = if (tagged) Seq(col("is_new")) else Nil
    val flat = rows.select(k ++ fields.zipWithIndex.map { case ((c, _), i) => c.as(s"e$i") }
        ++ flag: _*)
      .repartition(k: _*)
      .sortWithinPartitions(k ++ flag ++ eCols: _*)
    val side = (s: String) => fields.zipWithIndex.map { case ((_, f), i) =>
      StructField(s"$s$i", f.dataType, f.nullable) }
    val (nKeys, nFields) = (keyCols.length, fields.length)
    val pairs = flat.mapPartitions(it => new BucketPairs(it, nKeys, nFields, maxBucket, tagged))(
      Encoders.row(StructType(side("p") ++ side("q"))))
    def element(s: String): Column = rows.schema("e").dataType match {
      case _: StructType =>
        struct(fields.zipWithIndex.map { case ((_, f), i) => col(s"$s$i").as(f.name) }: _*)
      case _ => col(s"${s}0")
    }
    pairs.select(element("p").as("p"), element("q").as("q"))
  }

  /** The per-key scan of [[scanPairs]] over rows (key…, element fields…
    * [, is_new]) sorted by key, then the flag when `tagged` (old rows
    * first), then element: yields flat (p fields…, q fields…) pairs lazily,
    * holding at most the current key's first `maxBucket + 1` rows. An
    * element is its input row's field range. A pair is emitted only when
    * its later row is new; untagged, every row is new.
    */
  private final class BucketPairs(rows: Iterator[Row], nKeys: Int, nFields: Int,
                                  maxBucket: Int, tagged: Boolean) extends Iterator[Row] {
    private var ahead: Row = if (rows.hasNext) rows.next() else null
    private var key: Row = _        // first row of the current key
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    private var n = 0               // small key: distinct members in buf(0 until n)
    private var firstNew = 0        // small key: index of its first new member
    private var i = 0
    private var j = 1
    private var star = false        // current key is past maxBucket
    private var drain = 1           // star: next buffered element to pair with buf(0)
    private var nextPair: Row = _

    private def isNew(r: Row): Boolean = !tagged || r.getBoolean(nKeys + nFields)
    private def sameKey(r: Row): Boolean = {
      var c = 0
      while (c < nKeys && r.get(c) == key.get(c)) c += 1
      c == nKeys
    }
    private def same(x: Row, y: Row): Boolean = {
      var c = nKeys
      while (c < nKeys + nFields && x.get(c) == y.get(c)) c += 1
      c == nKeys + nFields
    }
    private def pair(p: Row, q: Row): Row = {
      val v = new Array[Any](2 * nFields)
      var c = 0
      while (c < nFields) { v(c) = p.get(nKeys + c); v(nFields + c) = q.get(nKeys + c); c += 1 }
      new GenericRow(v)
    }
    /** The star edge (anchor, e), or null when e is old or the anchor. */
    private def starEdge(e: Row): Row =
      if (isNew(e) && !same(e, buf(0))) pair(buf(0), e) else null
    private def advance(): Unit = ahead = if (rows.hasNext) rows.next() else null

    /** Reads the next key's first ≤ maxBucket + 1 rows; false at the end. */
    private def loadKey(): Boolean = {
      if (ahead == null) return false
      key = ahead
      buf.clear()
      while (ahead != null && buf.length <= maxBucket && sameKey(ahead)) {
        buf += ahead
        advance()
      }
      star = buf.length > maxBucket
      if (star) drain = 1
      else { // distinct members, in place (sorted: duplicates are adjacent)
        n = 0
        var b = 0
        while (b < buf.length) {
          if (n == 0 || !same(buf(n - 1), buf(b))) { buf(n) = buf(b); n += 1 }
          b += 1
        }
        firstNew = 0
        while (firstNew < n && !isNew(buf(firstNew))) firstNew += 1
        i = 0; j = math.max(1, firstNew)
      }
      true
    }

    override def hasNext: Boolean = {
      while (nextPair == null) {
        if (star) { // buf(0) is the key's first row: its min (old) element
          if (drain < buf.length) {
            nextPair = starEdge(buf(drain)); drain += 1
          } else if (ahead != null && sameKey(ahead)) {
            nextPair = starEdge(ahead); advance()
          } else {
            star = false
            n = 0
            if (!loadKey()) return false
          }
        } else if (i < n - 1) { // pairs i < j with j ≥ firstNew
          if (j < n) { nextPair = pair(buf(i), buf(j)); j += 1 }
          else { i += 1; j = math.max(i + 1, firstNew) }
        } else if (!loadKey()) return false
      }
      true
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextPair
      nextPair = null
      r
    }
  }

  /** Driver-local mirror of [[boundedProbePairs]] for SMALL key streams
    * (the incremental toy/verify regime), over primitive parallel arrays:
    * the caller keeps keys and elements in two long arrays, so the collected
    * probe state really is ~16 B/row — the arithmetic
    * graft.Regime.LOCAL_PROBE_MAX_CONTENTS documents. Same per-key
    * contract — keys with a new arrival and ≥2 members; small keys emit
    * new×(old∪new) minus self (in both orientations); hot keys emit
    * (anchor, e_new) stars with anchor = min old else min new — so the two
    * kernels agree after least/greatest + distinct. With the old side empty
    * this also reproduces [[boundedBucketPairs]]' candidate set up to pair
    * orientation. Parity is spec-gated on randomized inputs
    * (BoundedBucketSpec). The point: a probe over a few hundred thousand
    * (key, e) rows costs ONE collect instead of a chain of sequential AQE
    * query stages — the same small-input dispatch ([[graft.Regime]]) the
    * local-sweep chunk chain and the driver union-find use.
    */
  def boundedProbePairsLocalP(newKeys: Array[Long], newEs: Array[Long],
                              oldKeys: Array[Long], oldEs: Array[Long],
                              maxBucket: Int): Array[(Long, Long)] = {
    require(newKeys.length == newEs.length && oldKeys.length == oldEs.length)
    val byKey = scala.collection.mutable.LongMap
      .empty[(scala.collection.mutable.ArrayBuffer[Long],
              scala.collection.mutable.ArrayBuffer[Long])] // (old, new)
    var i = 0
    while (i < oldKeys.length) {
      byKey.getOrElseUpdate(oldKeys(i),
        (scala.collection.mutable.ArrayBuffer.empty,
          scala.collection.mutable.ArrayBuffer.empty))._1 += oldEs(i)
      i += 1
    }
    i = 0
    while (i < newKeys.length) {
      byKey.getOrElseUpdate(newKeys(i),
        (scala.collection.mutable.ArrayBuffer.empty,
          scala.collection.mutable.ArrayBuffer.empty))._2 += newEs(i)
      i += 1
    }
    val out = Array.newBuilder[(Long, Long)]
    for ((_, (olds, news)) <- byKey if news.nonEmpty
         && olds.length + news.length > 1) {
      if (olds.length + news.length <= maxBucket) {
        for (p <- news) {
          for (q <- olds) if (p != q) out += ((p, q))
          for (q <- news) if (p != q) out += ((p, q))
        }
      } else {
        val anchor = if (olds.nonEmpty) olds.min else news.min
        for (q <- news) if (q != anchor) out += ((anchor, q))
      }
    }
    out.result()
  }

  /** Driver-side form of the normalize step the distributed edge path runs
    * as filter + least/greatest + distinct: drop self-pairs, orient each
    * pair (min, max), dedupe. Bounded callers only (the local probe
    * kernel's output).
    */
  def normalizedDistinctPairsLocal(raw: Array[(Long, Long)]): Array[(Long, Long)] = {
    // exact pair-set dedup (ADVICE r6): the r6 form deduped on the packed
    // key rotl(a,32)^b, which two DISTINCT normalized pairs can collide on
    // without any ckey collision (rotl(a^a',32) == b^b' needs no shared
    // halves) — silently dropping a candidate edge where the distributed
    // path's distinct() is exact. The tuple set is exact and the caller is
    // bounded (driver-local small regime).
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val out = Array.newBuilder[(Long, Long)]
    for ((p, q) <- raw if p != q) {
      val a = math.min(p, q); val b = math.max(p, q)
      if (seen.add((a, b))) out += ((a, b))
    }
    out.result()
  }

  /** Driver-side form of [[verifiedPairs]] for the small regime: the same
    * exact-Jaccard >= tau verify through the SAME kernel
    * (Impl.jaccardArr — what gf.jaccard's codegen evaluates), over shingle
    * sets already collected to the driver. A pair either of whose sides has
    * no shingle set (NULL sh: empty-text content) is dropped, matching the
    * distributed filter's null semantics. Returns verified (a, b) pairs in
    * input order.
    */
  def verifiedPairsLocal(sh: scala.collection.mutable.LongMap[Array[Int]],
                         candidates: Array[(Long, Long)],
                         tau: Double): Array[(Long, Long)] =
    candidates.filter { case (a, b) =>
      (sh.get(a), sh.get(b)) match {
        case (Some(sa), Some(sb)) => graft.functions.Impl.jaccardArr(sa, sb) >= tau
        case _ => false
      }
    }

  /** Candidate pairs (a < b) from bucketed probe keys: one hash-shuffle on
    * the key — the explicit global exchange the reference never needs
    * (rank-local dedup, dedup_files_mpi.cpp:53-65) — then the bounded
    * bucket-pair kernel + one distinct.
    */
  def pairsFromKeyRows(keyRows: DataFrame, cfg: DedupConfig): DataFrame =
    boundedBucketPairs(keyRows.select(col("key"), col("doc_id").as("e")),
      Seq("key"), cfg.maxBucket)
      .select(col("p").as("a"), col("q").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Verified near-dup pairs: (a, b, jac) with exact Jaccard >= cfg.tau.
    * Ships ONLY the int shingle sets through the pair joins — the exact
    * sorted-merge intersection on two ~300-int arrays is cheaper than
    * shipping 1 KB signatures for an estimate pre-filter would be.
    */
  def verifiedPairs(features: DataFrame, candidates: DataFrame,
                    cfg: DedupConfig): DataFrame = {
    val fa = features.select(col("doc_id").as("a"), col("sh").as("sh_a"))
    val fb = features.select(col("doc_id").as("b"), col("sh").as("sh_b"))
    candidates
      .join(fa, "a")
      .join(fb, "b")
      .withColumn("jac", gf.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= cfg.tau)
      .select(col("a"), col("b"), col("jac"))
  }
}
