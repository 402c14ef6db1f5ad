package graft.dedup

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.functions.gf

/** Exact long-repeat detection — the engine's analogue of the reference's
  * maximal duplicated regions (Merkle forest, tree_approach.cpp:413-477),
  * re-expressed for variable-length text per the north_star's "suffix-array
  * substring pass for exact long-repeat detection".
  *
  * Two independent passes emit rows of one form:
  *
  *   - **winnowing** (Schleimer et al.): per-doc fingerprints, grouped by
  *     hash — detects EVERY repeat of length ≥ gram+window−1 across the whole
  *     corpus regardless of partitioning (one narrow shuffle of (hash, doc,
  *     pos) triples). This is the scale path: fingerprints are ~2/window of
  *     gram positions. Anchors go through [[verifyAndExtend]].
  *   - **suffix array** (SA-IS + Kasai LCP) per concatenated segment: exact
  *     within a segment with no length slack; used where documents are
  *     co-partitioned (e.g. by host) and for in-doc repeats. Each
  *     left-maximal occurrence pair extends to its maximal span inside the
  *     segment buffer, so this pass emits spans directly — no verifier.
  *
  * Output rows: (a, b, a_start, b_start, length) with (a, a_start) <
  * (b, b_start) lexicographically, one row per maximal span pair.
  */
object LongRepeats {

  /** Lowercased text per doc (positions must refer to one concrete string,
    * shared by candidate generators and the extend verifier; char-level
    * repeats keep raw whitespace — no regex normalization on the hot path).
    */
  private def norm(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), lower(col(textCol)).as("t"))

  /** Per-doc winnowing fingerprints (h, doc_id, pos) over a (doc_id, t)
    * frame — the ONE corpus pass the repeat detector, the decontamination
    * probe and any gate slice all consume (per-doc fingerprints are
    * independent, so a shared materialized frame filters exactly).
    */
  def winnowFingerprints(normDocs: DataFrame, gram: Int, window: Int): DataFrame =
    normDocs
      .select(col("doc_id"), explode(gf.winnow(col("t"), gram, window)).as("f"))
      .select(col("f.hash").as("h"), col("doc_id"), col("f.pos").as("pos"))

  /** Winnowing candidates: (a, pa, b, pb). Hot fingerprints (ubiquitous
    * boilerplate grams) emit star pairs beyond `maxBucket` — linear, not
    * quadratic, in bucket size.
    */
  def winnowCandidates(normDocs: DataFrame, gram: Int, window: Int,
                       maxBucket: Int): DataFrame =
    winnowCandidatesFromFps(winnowFingerprints(normDocs, gram, window), maxBucket)

  /** Candidates from a (possibly shared/materialized) fingerprint frame. */
  def winnowCandidatesFromFps(fps: DataFrame, maxBucket: Int): DataFrame =
    // bounded kernel: hot fingerprints (ubiquitous boilerplate grams) emit
    // star pairs from a streaming pass — linear, and never a per-key buffer
    MinHashLSH.boundedBucketPairs(
        fps.select(col("h"),
          struct(col("doc_id"), col("pos").as("pos")).as("e")),
        Seq("h"), maxBucket)
      .select(col("p.doc_id").as("a"), col("p.pos").as("pa"),
        col("q.doc_id").as("b"), col("q.pos").as("pb"))

  /** How many suffixes of one lcp-run pair up exhaustively; larger runs fall
    * back to star pairs against the run head (the maxBucket analogue — a
    * degenerate 'aaaa…' flood stays linear). Runs are occurrence counts of
    * ONE repeated span inside one segment, normally tiny.
    */
  final val RUN_CAP = 512

  /** Segment size bound in bytes (docs plus one separator each): bounds a
    * task's suffix-array memory (≈ 25 B per byte, ~26 MB at the cap).
    * Cross-segment repeats are the winnowing pass's job; a doc that alone
    * exceeds it is skipped here, counted in
    * `graft.longrepeats.oversized_docs`, and still covered by winnowing.
    */
  final val SEGMENT_MAX: Int = (1 << 20) - 1

  private val spanSchema = StructType(Seq(
    StructField("a", LongType, false), StructField("b", LongType, false),
    StructField("a_start", IntegerType, false), StructField("b_start", IntegerType, false),
    StructField("length", IntegerType, false)))

  /** Maximal spans ≥ minLen within one concatenated segment: one span per
    * LEFT-MAXIMAL occurrence pair with common prefix ≥ minLen. Pairs come
    * from maximal lcp ≥ minLen RUNS of the suffix array (every suffix pair
    * inside a run shares ≥ minLen), not just SA-adjacent entries — m
    * occurrences of one span yield the full C(m,2) pair set, the same
    * all-pairs contract as the winnowing pass and the LCE oracle.
    * Left-maximality (a doc start, or differing preceding bytes) keeps
    * exactly one pair per span: interior offsets of a span have equal
    * preceding bytes. A pair's span length is its buffer common prefix (the
    * running lcp minimum over the run) cut at both docs' ends, so a prefix
    * that runs through two 0x00 separators at the same offset never
    * lengthens a span; cut spans below minLen are dropped.
    */
  private def segmentSpans(docs: Array[(Long, Array[Byte])], minLen: Int,
                           cappedRuns: LongAccumulator): Iterator[Row] = {
    // concatenate with 0x00 separators; a separator belongs to the doc
    // before it
    val total = docs.map(_._2.length).sum + docs.length
    val buf = new Array[Byte](total)
    val start = new Array[Int](docs.length)
    val docOf = new Array[Int](total)
    var off = 0
    for (i <- docs.indices) {
      val bytes = docs(i)._2
      System.arraycopy(bytes, 0, buf, off, bytes.length)
      start(i) = off
      java.util.Arrays.fill(docOf, off, off + bytes.length + 1, i)
      off += bytes.length + 1
    }
    val sa = SuffixArray.build(buf)
    val lcp = SuffixArray.kasai(buf, sa)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    // the pair (x, y) with buffer common prefix h
    def span(x: Int, y: Int, h: Int): Unit = {
      val dx = docOf(x); val dy = docOf(y)
      if (x == start(dx) || y == start(dy) || buf(x - 1) != buf(y - 1)) {
        val len = math.min(h, math.min(start(dx) + docs(dx)._2.length - x,
          start(dy) + docs(dy)._2.length - y))
        val (ia, ib) = (docs(dx)._1, docs(dy)._1)
        val (px, py) = (x - start(dx), y - start(dy))
        if (len >= minLen && (ia != ib || px != py))
          rows += (if (ia < ib || (ia == ib && px < py)) Row(ia, ib, px, py, len)
                   else Row(ib, ia, py, px, len))
      }
    }
    // maximal runs: suffixes sa(i..e) with every lcp in [i, e-1] >= minLen
    var i = 0
    while (i < lcp.length) {
      if (lcp(i) >= minLen) {
        var e = i
        while (e < lcp.length && lcp(e) >= minLen) e += 1
        if (e - i + 1 <= RUN_CAP) {
          var p = i
          while (p < e) {
            var h = Int.MaxValue
            var q = p + 1
            while (q <= e) {
              h = math.min(h, lcp(q - 1))
              span(sa(p), sa(q), h)
              q += 1
            }
            p += 1
          }
        } else { // degenerate run: star pairs against the run head
          cappedRuns.add(1) // visible: star fallback diverges from the
                            // all-pairs C(m,2) contract (callers warn loudly)
          var h = Int.MaxValue
          var q = i + 1
          while (q <= e) {
            h = math.min(h, lcp(q - 1))
            span(sa(i), sa(q), h)
            q += 1
          }
        }
        i = e
      } else i += 1
    }
    rows.iterator
  }

  /** Packs a stream of (group, doc_id, bytes) rows, sorted by group, into
    * ≤ SEGMENT_MAX-byte segments that never span two groups — one segment
    * in memory at a time. Oversized docs are counted and skipped.
    */
  private def segments(rows: Iterator[(Long, Long, Array[Byte])],
                       oversized: LongAccumulator): Iterator[Array[(Long, Array[Byte])]] = {
    val in = rows.filter { d =>
      val fits = d._3.length + 1 < SEGMENT_MAX
      if (!fits) oversized.add(1)
      fits
    }.buffered
    new Iterator[Array[(Long, Array[Byte])]] {
      def hasNext: Boolean = in.hasNext
      def next(): Array[(Long, Array[Byte])] = {
        val g = in.head._1
        val seg = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
        var bytes = 0L
        while (in.hasNext && in.head._1 == g &&
               (seg.isEmpty || bytes + in.head._3.length + 1 <= SEGMENT_MAX)) {
          val (_, id, t) = in.next()
          seg += ((id, t)); bytes += t.length + 1
        }
        seg.toArray
      }
    }
  }

  /** The suffix-array pass over (g, doc_id, t: binary) rows, each partition
    * sorted by g: spans of every segment, materialized eagerly so the
    * departure counters are read after the pass.
    */
  private def saSpans(rows: DataFrame, minLen: Int): DataFrame = {
    val sc = rows.sparkSession.sparkContext
    val capped = sc.longAccumulator("graft.longrepeats.capped_runs")
    val oversized = sc.longAccumulator("graft.longrepeats.oversized_docs")
    val out = rows.mapPartitions { it =>
      segments(it.map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2))), oversized)
        .flatMap(seg => segmentSpans(seg, minLen, capped))
    }(Encoders.row(spanSchema)).localCheckpoint(true)
    warnIfDeparted(capped, oversized)
    out
  }

  /** A nonzero `graft.longrepeats.capped_runs` (lcp runs past RUN_CAP that
    * fell back to star pairs) or `graft.longrepeats.oversized_docs` (docs
    * skipped by the SA pass) means the output departs from the all-pairs
    * contract an LCE oracle checks: warn LOUDLY instead of silently
    * under-emitting, mirroring how simhash_ball_gate raises maxBucket.
    */
  private def warnIfDeparted(capped: LongAccumulator, oversized: LongAccumulator): Unit = {
    if (capped.value > 0)
      System.err.println(s"[graft] WARNING: ${capped.value} suffix-array lcp " +
        s"run(s) exceeded RUN_CAP=$RUN_CAP and emitted star pairs only — " +
        "output diverges from the all-pairs C(m,2) contract (an LCE oracle " +
        "over this output will see missing pairs)")
    if (oversized.value > 0)
      System.err.println(s"[graft] WARNING: ${oversized.value} doc(s) of " +
        s"≥ ${SEGMENT_MAX - 1} bytes skipped by the suffix-array pass — their " +
        "repeats are covered only by the winnowing pass")
  }

  /** Verify + extend candidates to maximal spans ≥ minLen.
    *
    * ONE (a, b) exchange, then a sort by (a, b, pa − pb, pa) and a streaming
    * chain-head filter, ahead of the text joins: all anchors of ONE maximal
    * span lie on one diagonal (pa − pb constant) with consecutive gaps <
    * gram — winnowing selects a shared fingerprint at the same relative
    * offset at least every `window` < gram positions inside the span.
    * Conversely two same-diagonal anchors closer than `gram` MUST belong to
    * the same span — their gram-length matches overlap, so the union region
    * matches contiguously and extendMatch yields the identical maximal span
    * from either. Keeping only chain HEADS (first anchor of each ≥gram-gapped
    * chain) therefore preserves the exact span set while cutting the rows
    * that ship texts and run extendMatch by the anchor redundancy
    * (~2·len/window per near-dup pair ⇒ 30–50× at sf0.1). The sort spills;
    * the filter ([[gf.chainHead]]) holds one row and keeps the columns, so
    * the (a, b) partitioning also serves the final `distinct`.
    * (Masking caveat: a chain head whose gram is a HASH-collision false
    * anchor could suppress a real anchor behind it — a 64-bit collision
    * between two specific nearby grams, the same risk class as the ckey
    * content key used for exact dedup; accepted corpus-wide.)
    */
  def verifyAndExtend(normDocs: DataFrame, candidates: DataFrame,
                      gram: Int, minLen: Int): DataFrame = {
    val heads = candidates
      .select(col("a"), col("b"), col("pa").cast("int").as("pa"), col("pb").cast("int").as("pb"))
      .repartition(col("a"), col("b"))
      .sortWithinPartitions(col("a"), col("b"), col("pa") - col("pb"), col("pa"))
      .filter(gf.chainHead(col("a"), col("b"), col("pa"), col("pb"), gram))
    val ta = normDocs.select(col("doc_id").as("a"), col("t").as("ta"))
    val tb = normDocs.select(col("doc_id").as("b"), col("t").as("tb"))
    heads
      .join(ta, "a").join(tb, "b")
      .withColumn("m", gf.extendMatch(col("ta"), col("tb"), col("pa"), col("pb"), gram))
      .filter(col("m").isNotNull && col("m.len") >= minLen)
      .filter(col("a") =!= col("b") || col("m.a_start") =!= col("m.b_start"))
      .select(col("a"), col("b"), col("m.a_start").as("a_start"),
        col("m.b_start").as("b_start"), col("m.len").as("length"))
      .distinct()
  }

  /** Full winnowing pass: detects ALL maximal repeats ≥ gram+window−1
    * (guarantee of the winnowing scheme), any partitioning.
    */
  def repeats(docs: DataFrame, gram: Int = 24, window: Int = 12,
              maxBucket: Int = 32, idCol: String = "doc_id",
              textCol: String = "text",
              /** optional pre-materialized winnowFingerprints(norm docs,
                * gram, window) — MUST come from the same (gram, window) and
                * the lowercased text of the same docs (a session cache
                * shares the one corpus pass across repeat/decontaminate
                * consumers). */
              precomputedFps: Option[DataFrame] = None): DataFrame = {
    // not persisted: the fingerprint pass and the two text joins each read
    // this projection of the caller's docs in their own first stage, while
    // a persisted copy would add one cache job per consumer and a second
    // resident copy of a corpus the caller usually holds already
    val n = norm(docs, idCol, textCol)
    val minLen = gram + window - 1
    val cand = winnowCandidatesFromFps(
      precomputedFps.getOrElse(winnowFingerprints(n, gram, window)), maxBucket)
    // eager output: the span set is tiny
    verifyAndExtend(n, cand, gram, minLen).localCheckpoint(true)
  }

  /** Lowercased (g, doc_id, t) rows with t as its UTF-8 bytes — the byte
    * positions extendMatch and the winnow pass use.
    */
  private def saInput(docs: DataFrame, groupExpr: org.apache.spark.sql.Column,
                      idCol: String, textCol: String): DataFrame =
    docs.select(groupExpr.cast("long").as("g"), col(idCol).as("doc_id"),
      lower(col(textCol)).cast("binary").as("t"))

  /** Suffix-array pass scoped to GROUPS (e.g. host buckets): docs of one
    * group are hash-shuffled together and sorted contiguously, and each
    * group builds its own suffix array — the output is EXACTLY the maximal
    * repeats ≥ minLen whose two occurrences share a group, a deterministic,
    * partitioning-INDEPENDENT contract (a pass over the current
    * partitioning would depend on which groups hash-co-reside, which no SQL
    * oracle can reproduce; this one has one). One narrow shuffle on the
    * group key; groups bigger than SEGMENT_MAX bytes segment in doc_id order.
    */
  def repeatsWithinGroups(docs: DataFrame, groupExpr: org.apache.spark.sql.Column,
                          minLen: Int, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    saSpans(saInput(docs, groupExpr, idCol, textCol)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("g"))
      .sortWithinPartitions("g", "doc_id"), minLen)
}
