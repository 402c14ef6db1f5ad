package graft.dedup

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.gf
import graft.state.SnapshotStore

/** Snapshot-over-snapshot near-dup dedup with checkpointed, resumable stages —
  * the engine's analogue of the reference's incremental checkpoint loop
  * (/root/reference/src/dedup_files.cpp:65-105).
  *
  * The dedup graph is keyed by CONTENT, not by document: a content unit
  * (ckey = content hash of normalized text) is immutable, so the content
  * (registry+features) and edge tables are APPEND-ONLY across snapshots —
  * each snapshot commits only its fresh rows and the cumulative table is the
  * committed range (an Iceberg partition-pruned scan). No state row is ever
  * invalidated when a url's text changes (the url just points at a different
  * content node). Committed tables per snapshot: pages_keyed, content,
  * edges, assignments, metrics (5; r5 had 7 — registry+features merged,
  * content_clusters derived). Per snapshot:
  *
  *   - FIXED fast path (F1/F2, basic_approach.cpp:36-44): urls whose ckey
  *     equals their previous snapshot's bypass all content work;
  *   - new ckeys register (first-presenting doc_id becomes the content_id —
  *     min-id election, J1/J2) and are shingled/banded ONCE ever;
  *   - LSH candidates: new bands vs the accumulated band index (the world is
  *     never re-banded; a content pair surfaces exactly once — when its newer
  *     member registers — so per-snapshot edge sets are disjoint and
  *     append-only) + exact-Jaccard verification;
  *   - connected components over ckey content nodes (ckey is the unique node
  *     identity; content_id alone is NOT unique — a revised url re-elects its
  *     own doc_id for the new content), relabeled to min content_id per
  *     component; documents inherit their content's cluster via one hash join.
  *
  * Every stage commits through the store ([[SnapshotStore.stage]], or
  * [[SnapshotStore.commitLocal]] on the driver pass): a killed job rerun
  * with the same store resumes after the last committed stage (north_rule
  * resumability; per-partition lineage lands in each stage manifest).
  */
object IncrementalDedup {
  /** Every row of `ds` when there are at most `max`, else None. Each task
    * returns at most max + 1 rows. Once the running total passes `max` the
    * driver drops what it holds and cancels the job, so a mis-estimated
    * input stops after its first tasks: the driver receives the rows of at
    * most the tasks that finish before the cancel lands (about one per
    * core), never the whole input — nor enough results to trip
    * `spark.driver.maxResultSize`.
    */
  private[graft] def collectAtMost[T: ClassTag](ds: Dataset[T], max: Int): Option[Array[T]] = {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.concurrent.duration.Duration
    val rdd = ds.rdd
    val parts = new Array[Array[T]](rdd.getNumPartitions)
    val perTask = max + 1
    var total = 0L
    val over = Promise[Unit]()
    val job = ds.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[T]) => it.take(perTask).toArray, parts.indices,
      (i: Int, rows: Array[T]) => {
        total += rows.length
        if (total <= max) parts(i) = rows
        else if (over.trySuccess(())) java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
      }, ())
    Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (over.isCompleted) { job.cancel(); Await.ready(job, Duration.Inf); None }
    else { Await.result(job, Duration.Inf); Some(parts.flatten) }
  }

  /** accumulated content as the driver pass collects it: (ckey,
    * content_id, sig, sim64) — no shingle sets */
  private type Acc = (Long, Long, Option[Array[Long]], Option[Long])
  /** one content row: (ckey, content_id, sh, sig, sim64) */
  private type Content = (Long, Long, Option[Array[Int]], Option[Array[Long]], Option[Long])

  private[graft] val edgesSchema = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))
  private[graft] val metricsSchema = StructType(Seq(
    StructField("snapshot", IntegerType, nullable = false),
    StructField("n_pages", LongType, nullable = false),
    StructField("n_changed", LongType, nullable = false),
    StructField("n_new_content", LongType, nullable = false),
    StructField("n_edges", LongType, nullable = false),
    StructField("n_assignments", LongType, nullable = false),
    StructField("elapsed_ms", LongType, nullable = false)))
  private[graft] val assignSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))

  /** Driver relabel kernel for the small regime: union-find components over
    * the edge list, then min content_id per component — the pure form of
    * the distributed comps⋈registry→groupBy(min)→join-back relabel
    * (parity spec-gated in IncrementalDedupSpec against the forced
    * distributed star rounds). Returns (ckey, cluster) for every registry
    * row; singleton ckeys (no edges) label with their own content_id.
    */
  private[graft] def localClusterLabels(reg: Array[(Long, Long)],
                                        edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val comp = ConnectedComponents.localComponents(edges)
    val minCid = new java.util.HashMap[Long, Long]()
    for ((ck, cid) <- reg) {
      val root = comp.getOrElse(ck, ck)
      val cur = minCid.getOrDefault(root, Long.MaxValue)
      if (cid < cur) minCid.put(root, cid)
    }
    reg.map { case (ck, _) =>
      (ck, minCid.get(comp.getOrElse(ck, ck)).longValue)
    }
  }
}

final class IncrementalDedup(spark: SparkSession, store: SnapshotStore,
                             cfg: DedupConfig = DedupConfig(),
                             /** rewrite each append-only table's full prefix
                               * into one compacted snapshot every this many
                               * snapshots — bounds readRange fan-in at chain
                               * depth (0 disables). */
                             compactEvery: Int = 4) {
  import IncrementalDedup._
  import graft.Regime.{LOCAL_ASSIGN_MAX_ROWS, LOCAL_PROBE_MAX_CONTENTS, LOCAL_VERIFY_MAX_PAIRS}

  /** Process snapshot `snap` of the pages table; returns (doc_id, cluster)
    * for this snapshot's documents. Idempotent.
    *
    * One switch per call ([[graft.Regime.local]]), decided from manifests
    * with zero jobs: when the accumulated contents plus the page estimate
    * (`expectedPages`, else the previous snapshot's pages_keyed rows × 6/5
    * — the workload's ~10% growth, an upper bound) are within
    * LOCAL_PROBE_MAX_CONTENTS and the estimate is within
    * LOCAL_ASSIGN_MAX_ROWS, the snapshot runs as ONE driver pass
    * ([[driverPass]]). Otherwise — or when the driver pass crosses a
    * bound midway — the distributed pass runs. Both commit the same five
    * stages in the same order, so the distributed pass picks up after
    * whatever the driver pass committed.
    */
  def processSnapshot(snap: Int, pages: DataFrame,
                      expectedPages: Option[Long] = None): DataFrame = {
    val t0 = System.nanoTime()
    val keyedApprox = expectedPages.orElse(
      if (snap == 0) None
      else Some(math.max(1L, store.committedRows("pages_keyed", snap - 1) * 6 / 5)))
    val small = graft.Regime.local(spark,
        (0 until snap).map(store.committedRows("content", _)).sum + keyedApprox.getOrElse(0L),
        LOCAL_PROBE_MAX_CONTENTS) &&
      keyedApprox.forall(_ <= LOCAL_ASSIGN_MAX_ROWS)
    if (!(small && driverPass(snap, pages, t0)))
      distributedPass(snap, pages, keyedApprox, t0)

    // Iceberg-style maintenance: periodically rewrite each append-only
    // table's 0..snap prefix into one compacted snapshot, so a depth-100
    // chain's readRange unions ≤ compactEvery scans instead of 100
    // (SnapshotStore.compactUpTo is idempotent — resume-safe like a stage)
    if (compactEvery > 0 && (snap + 1) % compactEvery == 0)
      Seq("content", "edges").foreach(t => store.compactUpTo(t, snap))
    store.read("assignments", snap)
  }

  /** The small regime as ONE driver pass: each stage is one bounded collect,
    * a driver computation and a zero-job [[SnapshotStore.commitLocal]]. Its
    * jobs: the pages_keyed collect, the previous snapshot's (url, ckey), the
    * accumulated (ckey, content_id, sig, sim64), the fresh contents'
    * features, the OLD candidates' shingle sets and the prior edges. Each
    * collect is sized before it runs, by a manifest row count or a
    * driver-known key count, or bounded by [[IncrementalDedup.collectAtMost]].
    *
    * Returns false when a bound is crossed: more pages or contents than the
    * estimate said, more than LOCAL_VERIFY_MAX_PAIRS candidates, or more
    * edges than the driver union-find takes. Every stage committed by then
    * stays, and the distributed pass resumes after it. It also returns false
    * on a snapshot that already has committed stages but no metrics (a
    * killed run): the distributed pass's compute-or-reuse stages resume it.
    */
  private def driverPass(snap: Int, pages: DataFrame, t0: Long): Boolean = {
    import spark.implicits._
    if (store.isCommitted("metrics", snap)) return true
    if (Seq("pages_keyed", "content", "edges", "assignments").exists(store.isCommitted(_, snap)))
      return false

    val keyed: Array[Row] = collectAtMost(keyedOf(pages), LOCAL_ASSIGN_MAX_ROWS.toInt) match {
      case Some(rows) => rows
      case None => return false
    }
    // a NULL doc_id or text (NULL ckey) is left to the distributed pass's
    // join semantics
    if (keyed.exists(r => r.isNullAt(1) || r.isNullAt(2))) return false
    store.commitLocal("pages_keyed", snap, keyedOf(pages).schema, keyed.toIndexedSeq)

    // F1/F2 fixed fast path: the distributed pass's left join on url +
    // "previous ckey NULL or different" filter, multiplicity included (a url
    // repeated in the previous snapshot counts once per differing row)
    if (snap > 0 && store.committedRows("pages_keyed", snap - 1) > LOCAL_ASSIGN_MAX_ROWS)
      return false
    val prev = scala.collection.mutable.HashMap.empty[String, List[java.lang.Long]]
    if (snap > 0)
      for (r <- store.read("pages_keyed", snap - 1).select("url", "ckey").collect()
           if !r.isNullAt(0))
        prev(r.getString(0)) =
          r.get(1).asInstanceOf[java.lang.Long] :: prev.getOrElse(r.getString(0), Nil)
    var nChanged = 0L
    val changed = keyed.filter { r =>
      val ps = if (r.isNullAt(0)) Nil else prev.getOrElse(r.getString(0), Nil)
      val n = if (ps.isEmpty) 1 else ps.count(p => p == null || p.longValue != r.getLong(2))
      nChanged += n
      n > 0
    }

    // ONE collect of the accumulated contents serves the registration
    // anti-join, the probe's old side and the relabel registry; its size is
    // the manifest sum the dispatch checked
    val acc =
      if (snap == 0) Array.empty[Acc]
      else store.readRange("content", 0, snap - 1)
        .select("ckey", "content_id", "sig", "sim64").as[Acc].collect()

    // registration (J1 insert-if-absent): a changed ckey not yet registered
    // elects its min doc_id among this snapshot's changed docs
    val registered = acc.iterator.map(_._1).toSet
    val elected = scala.collection.mutable.LongMap.empty[Long] // ckey → content_id
    for (r <- changed; ck = r.getLong(2) if !registered(ck))
      elected(ck) = math.min(r.getLong(1), elected.getOrElse(ck, Long.MaxValue))
    if (acc.length + elected.size > LOCAL_PROBE_MAX_CONTENTS) return false

    // (ckey, content_id, sh, sig, sim64) of this snapshot's contents: ONE
    // job — `pages` filtered by the elected doc ids, features for those rows
    // only; the collect is also the probe's new side
    def content(p: DataFrame) = withFeatures(p.select(gf.contentKey64(col("text")).as("ckey"),
      col("doc_id").as("content_id"), col("text")), "ckey", "content_id")
    val fresh: Array[Content] = collectIn(elected.values.toArray)(in =>
        content(pages.filter(in(col("doc_id")))).as[Content]) match {
      case Some(cs) => cs
      case None => return false
    }
    store.commitLocal("content", snap, content(pages).schema, fresh.toIndexedSeq.map(c =>
      Row(c._1, c._2, c._3.orNull, c._4.orNull, c._5.map(Long.box).orNull)))

    val (nks, nes) = probeKeys(fresh.iterator.map(f => (f._1, f._4, f._5)))
    val (oks, oes) = probeKeys(acc.iterator.map(a => (a._1, a._3, a._4)))
    val cands = MinHashLSH.normalizedDistinctPairsLocal(
      MinHashLSH.boundedProbePairsLocalP(nks, nes, oks, oes, cfg.maxBucket))
    if (cands.length > LOCAL_VERIFY_MAX_PAIRS) return false
    // exact-Jaccard verify: the new side's shingle sets are on the driver
    // already; one pruned collect fetches the OLD candidates'
    val sh = scala.collection.mutable.LongMap.empty[Array[Int]]
    for (f <- fresh; s <- f._3) sh(f._1) = s
    val isNew = fresh.iterator.map(_._1).toSet
    val oldCk = cands.iterator.flatMap(p => Iterator(p._1, p._2))
      .filterNot(isNew).toArray.distinct
    collectIn(oldCk)(in => store.readRange("content", 0, snap - 1)
        .filter(in(col("ckey"))).select("ckey", "sh").as[(Long, Option[Array[Int]])]) match {
      case Some(rs) => for ((ck, s) <- rs; a <- s) sh(ck) = a
      case None => return false
    }
    val newEdges = MinHashLSH.verifiedPairsLocal(sh, cands, cfg.tau)
    store.commitLocal("edges", snap, edgesSchema, newEdges.toIndexedSeq.map(p => Row(p._1, p._2)))

    // content-level clustering (union-find + min-content_id relabel) and the
    // documents' lookup, all on the driver
    val nEdges = (0 until snap).map(store.committedRows("edges", _)).sum + newEdges.length
    if (nEdges > graft.Regime.SMALL_GRAPH_MAX) return false
    val prior =
      if (snap == 0) Array.empty[(Long, Long)]
      else store.readRange("edges", 0, snap - 1).select("a", "b").as[(Long, Long)].collect()
    val labels = scala.collection.mutable.LongMap.empty[Long]
    for ((ck, cl) <- localClusterLabels(
           acc.map(a => (a._1, a._2)) ++ fresh.map(f => (f._1, f._2)), prior ++ newEdges))
      labels(ck) = cl
    // a ckey missing from the labels would be a broken registration
    // invariant: fail loudly rather than drop the document
    store.commitLocal("assignments", snap, assignSchema, keyed.toIndexedSeq.map { r =>
      val (d, ck) = (r.getLong(1), r.getLong(2))
      Row(d, labels.getOrElse(ck, sys.error(s"ckey $ck of doc $d has no cluster label")))
    })
    commitMetrics(snap, nChanged, t0)
    true
  }

  /** The same five stages as Spark jobs, for snapshots past the driver
    * pass's bounds (a 100-TB chain from snapshot 0). Every stage runs
    * through [[SnapshotStore.stage]] — compute-or-reuse — so this pass also
    * resumes a driver pass that stopped at a bound.
    */
  private def distributedPass(snap: Int, pages: DataFrame, keyedApprox: Option[Long],
                              t0: Long): Unit = {
    val keyed = store.stage("pages_keyed", snap, approxRows = keyedApprox)(keyedOf(pages))

    // F1/F2 fixed fast path: only urls with new/changed content continue.
    // DERIVED, never committed: both inputs (this and the previous
    // snapshot's pages_keyed) are committed stages, so the anti-join is
    // deterministic on resume — and at scale `changed` is the per-snapshot
    // WORK SET, the one table worth NOT writing a second copy of. It is
    // persisted while this pass runs (snap > 0): the registration anti-join
    // and metrics' n_changed count would otherwise each run the full
    // anti-join; the cache makes the second a narrow scan.
    val changed =
      if (snap == 0) keyed.select("url", "doc_id", "ckey")
      else {
        val prev = store.read("pages_keyed", snap - 1)
          .select(col("url"), col("ckey").as("prev_ckey"))
        keyed.select("url", "doc_id", "ckey")
          .join(prev, Seq("url"), "left")
          .filter(col("prev_ckey").isNull || col("prev_ckey") =!= col("ckey"))
          .drop("prev_ckey")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }

    // Content registry (J1 insert-if-absent) + fused features in ONE
    // committed table: ckey → (content_id, sig, sim64, sh).
    //
    // INVARIANT the cluster labels rely on: content_id is frozen at first
    // registration (min doc_id among the registering snapshot's changed
    // docs). A LOWER doc_id presenting an already-registered content in a
    // later snapshot (a url reverting to older text) keeps the original
    // content_id — pinned by IncrementalDedupSpec ("a LOWER doc_id
    // re-presenting registered content..."): no re-registration, labels
    // stay the frozen id and all holders share one cluster. The
    // pages_incremental_clusters oracle may elect cids globally (min doc_id
    // over ALL snapshots) only because the synthesized workload never
    // re-presents a content from a smaller doc_id.
    val newContent =
      store.stage("content", snap,
        approxRows = Some(store.committedRows("pages_keyed", snap))) {
        // text comes from the electing document's INPUT row — the store
        // holds no text; features are computed IN the registration projection
        val fresh = (if (snap == 0) changed
          else changed.join(store.readRange("content", 0, snap - 1).select("ckey"),
            Seq("ckey"), "left_anti"))
          .groupBy("ckey").agg(min("doc_id").as("content_id"))
        withFeatures(fresh.join(pages.select(col("doc_id").as("content_id"), col("text")),
          Seq("content_id")), "ckey", "content_id")
      }
    val registry = store.readRange("content", 0, snap).select("ckey", "content_id")

    // ONE unified probe-key stream, exactly like the batch pipeline's
    // unioned key stream (NearDupPipeline): LSH band hashes (band index
    // already folded into each 64-bit hash) + SimHash block-combination
    // keys share the key space and the bounded probe. Keys are DERIVED from
    // the committed content table, never stored: banding a signature is a
    // few hashes per row, while a committed key table is ~52 rows per
    // content — deriving keeps the store's state linear in CONTENTS and
    // stays resume-safe because the input is itself a committed stage.
    def keysOf(features: DataFrame): DataFrame =
      features.select(col("ckey"),
          explode(gf.bands(col("sig"), cfg.bands)).as("key"))
        .unionByName(features.select(col("ckey"),
          explode(gf.simhashKeys(col("sim64"), cfg.simhashBlocks,
            cfg.simhashMaxHamming)).as("key")))

    // near-dup edges between content nodes — per-snapshot sets are disjoint
    // (a pair surfaces exactly when its newer member arrives, via either
    // probe family), so only the new edges are committed. Bounded
    // new-vs-accumulated probes: the batch pipeline's hot-key star guard (a
    // boilerplate band key with 10⁶ accumulated entries × 10³ new arrivals
    // must emit 10³ candidates, not 10⁹); ckeys are registered exactly once
    // so new/old element sets are disjoint, the kernel's contract.
    store.stage("edges", snap,
      // file sizer only: verified edge count is near-linear in this
      // snapshot's new contents (bounded probes; star caps on hot keys)
      approxRows = Some(math.max(1L, store.committedRows("content", snap)))) {
      val newE = keysOf(newContent).select(col("key"), col("ckey").as("e"))
      val cand = (if (snap == 0)
          // no accumulated state yet — the batch kernel is the same scan
          // with no old side and no is_new tag
          MinHashLSH.boundedBucketPairs(newE, Seq("key"), cfg.maxBucket)
        else MinHashLSH.boundedProbePairs(newE,
          keysOf(store.readRange("content", 0, snap - 1))
            .select(col("key"), col("ckey").as("e")),
          Seq("key"), cfg.maxBucket))
        .filter(col("p") =!= col("q"))
        .select(least(col("p"), col("q")).as("a"), greatest(col("p"), col("q")).as("b"))
        .distinct()
      val allFeatures = store.readRange("content", 0, snap)
        .select(col("ckey").as("doc_id"), col("sh"))
      MinHashLSH.verifiedPairs(allFeatures, cand, cfg).select("a", "b")
    }
    val edges = store.readRange("edges", 0, snap).select("a", "b")

    // Content-level clustering over ckey nodes; deterministic label = min
    // content_id (= min doc_id ever holding any content of the component).
    // DERIVED, never committed: CC is a deterministic function of two
    // committed inputs (registry ⊂ content, edges) and its single consumer
    // (assignments, committed right below) is the resume point.
    // ConnectedComponents checkpoints its rounds internally; the edge count
    // comes from the committed manifests (no dispatch job).
    store.stage("assignments", snap,
      approxRows = Some(store.committedRows("pages_keyed", snap))) {
      val comps = ConnectedComponents.assignAll(spark,
        registry.select(col("ckey")), edges, // (id = ckey, cluster = min ckey)
        knownEdgeCount = Some((0 to snap).map(store.committedRows("edges", _)).sum))
      val labels = comps.join(registry, comps("id") === registry("ckey"))
        .groupBy(comps("cluster")).agg(min("content_id").as("content_cluster"))
      val contentClusters = comps.join(labels, "cluster")
        .select(col("id").as("ckey"), col("content_cluster").as("cluster"))
      keyed.select(col("doc_id"), col("ckey"))
        .join(contentClusters, Seq("ckey"))
        .select(col("doc_id"), col("cluster"))
    }

    // n_changed (A3): `changed` is derived, not committed, so its count is
    // one narrow pass over the persisted frame, paid only when metrics
    // actually computes (never on resume)
    commitMetrics(snap,
      if (snap == 0) store.committedRows("pages_keyed", 0) // changed ≡ keyed
      else changed.count(), t0)
    if (snap > 0) changed.unpersist()
  }

  /** NARROW state: the store never duplicates the text lake (the input
    * Iceberg table already holds it durably) — only (url, doc_id, ckey)
    * rows are committed; text is re-read from `pages` for the few freshly
    * registered contents.
    */
  private def keyedOf(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("doc_id"), gf.contentKey64(col("text")).as("ckey"))

  /** `keep` plus (sh, sig, sim64): shingles + MinHash + SimHash in one
    * tokenization pass per row (the batch flagship's kernel). An empty text
    * gets NULL features via the `when` guard: its content keeps a registry
    * row — registration is what guarantees every document an assignment —
    * and contributes zero probe keys. Codegen CSE evaluates the struct once
    * for its three field reads.
    */
  private def withFeatures(df: DataFrame, keep: String*): DataFrame =
    df.select(keep.map(col) :+ when(length(trim(col("text"))) > 0,
        gf.featureStruct(col("text"), cfg.shingleK, cfg.numPerm, cfg.seed)).as("f"): _*)
      .select(keep.map(col) ++ Seq(col("f.sh").as("sh"), col("f.sig").as("sig"),
        col("f.sim64").as("sim64")): _*)

  /** Driver-side probe keys of (ckey, sig, sim64) rows as two parallel long
    * arrays (key, ckey), through the same Impl kernels the distributed
    * keysOf evaluates (a codegen-vs-driver drift is pinned by their KAT
    * gates). NULL features contribute zero keys on both passes.
    */
  private def probeKeys(rows: Iterator[(Long, Option[Array[Long]], Option[Long])])
      : (Array[Long], Array[Long]) = {
    val ks = new scala.collection.mutable.ArrayBuilder.ofLong
    val es = new scala.collection.mutable.ArrayBuilder.ofLong
    for ((ck, sig, sim) <- rows) {
      for (s <- sig; k <- graft.functions.Impl.bandHashesArr(s, cfg.bands)) {
        ks += k; es += ck
      }
      for (sm <- sim; k <- graft.functions.Impl
          .simhashKeys(sm, cfg.simhashBlocks, cfg.simhashMaxHamming).toLongArray()) {
        ks += k; es += ck
      }
    }
    (ks.result(), es.result())
  }

  /** The rows `query` keeps with its "long column ∈ ids" predicate — at
    * most ids.length of them, else None ([[IncrementalDedup.collectAtMost]]).
    * The set ships to the tasks as ONE broadcast sorted array: an InSet
    * literal would be serialized into every task. No ids, no job.
    */
  private def collectIn[T: ClassTag](ids: Array[Long])
                                    (query: (Column => Column) => Dataset[T]): Option[Array[T]] =
    if (ids.isEmpty) Some(Array.empty[T])
    else {
      val bc = spark.sparkContext.broadcast(ids.sorted)
      val isIn = udf((v: Long) => java.util.Arrays.binarySearch(bc.value, v) >= 0)
      try collectAtMost(query(c => isIn(c)), ids.length) finally bc.destroy()
    }

  /** The 1-row snapshot summary: row counts from the committed stage
    * manifests (zero jobs) plus the caller's n_changed, committed through
    * the zero-job local writer. Skipped (and `nChanged` never evaluated) on
    * resume.
    */
  private def commitMetrics(snap: Int, nChanged: => Long, t0: Long): Unit =
    if (!store.isCommitted("metrics", snap))
      store.commitLocal("metrics", snap, metricsSchema, Seq(Row(snap,
        store.committedRows("pages_keyed", snap), nChanged,
        store.committedRows("content", snap),
        (0 to snap).map(store.committedRows("edges", _)).sum,
        store.committedRows("assignments", snap),
        (System.nanoTime() - t0) / 1000000)),
        Map("stage" -> "snapshot_summary"))

}
