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

  /** one content row: (ckey, content_id, sh, sig, sim64) */
  private type Content = (Long, Long, Option[Array[Int]], Option[Array[Long]], Option[Long])

  /** a content row as committed, followed by `extra` fields */
  private def contentRow(c: Content, extra: Any*): Row =
    Row.fromSeq(Seq(c._1, c._2, c._3.orNull, c._4.orNull, c._5.map(Long.box).orNull) ++ extra)

  /** A url → ckeys multimap of one snapshot's pages_keyed rows (a url
    * repeated in the snapshot keeps every ckey); NULL urls are left out.
    */
  private def urlCkeys(rows: Iterator[(String, java.lang.Long)])
      : scala.collection.Map[String, List[java.lang.Long]] = {
    val m = scala.collection.mutable.HashMap.empty[String, List[java.lang.Long]]
    for ((url, ck) <- rows if url != null) m(url) = ck :: m.getOrElse(url, Nil)
    m
  }

  /** What the driver passes of snapshots 0..`last` computed, held by the
    * instance for the next snapshot — the reference keeps `first_ocur_d` and
    * its previous tree resident across checkpoints the same way
    * (dedup_files.cpp:65-105). `prev` is snapshot `last`'s url → ckeys,
    * `content` and `edges` hold every committed row by snapshot id (`sh`
    * included, so the verify and a compaction need no read), `byCkey`
    * indexes the content rows, and `uf` is the union-find over every edge
    * with each component's min content_id. `folded` is the commit_id of
    * each committed snapshot the state was built from.
    */
  private final class Resident(
      val last: Int,
      val prev: scala.collection.Map[String, List[java.lang.Long]],
      val content: scala.collection.mutable.ArrayBuffer[Array[Content]],
      val byCkey: scala.collection.mutable.LongMap[Content],
      val edges: scala.collection.mutable.ArrayBuffer[Array[(Long, Long)]],
      val uf: ConnectedComponents.UnionFind,
      val folded: Seq[(String, Int, Option[String])]) {

    def nEdges: Long = edges.iterator.map(_.length.toLong).sum

    /** Whether the store still holds every commit this state folded — zero
      * jobs, one manifest read per folded snapshot.
      */
    def matches(store: SnapshotStore): Boolean =
      folded.forall { case (t, s, id) => store.commitId(t, s) == id }

    /** Rows of `content__compacted` / `edges__compacted` through `last`. */
    def contentRows: Iterator[Row] = content.iterator.zipWithIndex.flatMap { case (cs, s) =>
      cs.iterator.map(contentRow(_, s))
    }
    def edgeRows: Iterator[Row] = edges.iterator.zipWithIndex.flatMap { case (es, s) =>
      es.iterator.map(e => Row(e._1, e._2, s))
    }
  }

  private object Resident {
    /** A state over `content` and `edges`, with their index and union-find. */
    def apply(last: Int, prev: scala.collection.Map[String, List[java.lang.Long]],
              content: scala.collection.mutable.ArrayBuffer[Array[Content]],
              edges: scala.collection.mutable.ArrayBuffer[Array[(Long, Long)]],
              folded: Seq[(String, Int, Option[String])]): Resident = {
      val byCkey = scala.collection.mutable.LongMap.empty[Content]
      val uf = new ConnectedComponents.UnionFind
      for (cs <- content; c <- cs) { byCkey(c._1) = c; uf.add(c._1, c._2) }
      for (es <- edges; (a, b) <- es) uf.union(a, b)
      new Resident(last, prev, content, byCkey, edges, uf, folded)
    }

    /** The commit_ids of what a state through `last` is built from. */
    def foldedIds(store: SnapshotStore, last: Int): Seq[(String, Int, Option[String])] =
      (("pages_keyed", last) +: (0 to last).flatMap(s => Seq(("content", s), ("edges", s))))
        .map { case (t, s) => (t, s, store.commitId(t, s)) }
  }

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

  /** What this instance's driver passes folded through the last snapshot
    * (see [[IncrementalDedup.Resident]]): None until a driver pass completes,
    * and again once a snapshot runs or resumes on the distributed pass or a
    * driver pass stops at a bound.
    */
  private var resident: Option[Resident] = None

  /** The resident state through `last`, if the store still holds every
    * commit it folded — zero jobs.
    */
  private def held(last: Int): Option[Resident] =
    resident.filter(r => r.last == last && r.matches(store))

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
    if (!(small && driverPass(snap, pages, t0))) {
      resident = None
      distributedPass(snap, pages, keyedApprox, t0)
    }

    // Iceberg-style maintenance: periodically rewrite each append-only
    // table's 0..snap prefix into one compacted snapshot, so a depth-100
    // chain's readRange unions ≤ compactEvery scans instead of 100
    // (SnapshotStore.compactUpTo is idempotent — resume-safe like a stage).
    // A resident state through `snap` holds the prefix's rows already: they
    // commit from the driver, with no job.
    if (compactEvery > 0 && (snap + 1) % compactEvery == 0) {
      val rows = held(snap)
      store.compactUpTo("content", snap, rows.map(_.contentRows))
      store.compactUpTo("edges", snap, rows.map(_.edgeRows))
    }
    store.read("assignments", snap)
  }

  /** The small regime as ONE driver pass: each stage is a driver
    * computation and a zero-job [[SnapshotStore.commitLocal]]. On an
    * instance whose previous snapshot was a driver pass, still held by the
    * store ([[held]]), its jobs are the pages_keyed collect and the fresh
    * contents' features: the previous snapshot's url → ckeys, the
    * accumulated contents with their shingle sets, and the union-find over
    * the prior edges are resident. Otherwise [[load]] first collects those
    * from the store, three more jobs. Each collect is sized before it runs,
    * by a manifest row count or a driver-known key count, or bounded by
    * [[IncrementalDedup.collectAtMost]].
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
    // the state is folded in place below and put back only once metrics
    // commit, so a pass that stops midway leaves none behind
    val kept = held(snap - 1)
    resident = None

    val keyed: Array[Row] = collectAtMost(keyedOf(pages), LOCAL_ASSIGN_MAX_ROWS.toInt) match {
      case Some(rows) => rows
      case None => return false
    }
    // a NULL doc_id or text (NULL ckey) is left to the distributed pass's
    // join semantics
    if (keyed.exists(r => r.isNullAt(1) || r.isNullAt(2))) return false
    store.commitLocal("pages_keyed", snap, keyedOf(pages).schema, keyed.toIndexedSeq)

    val st = kept.orElse(load(snap)) match {
      case Some(r) => r
      case None => return false
    }

    // F1/F2 fixed fast path: the distributed pass's left join on url +
    // "previous ckey NULL or different" filter, multiplicity included (a url
    // repeated in the previous snapshot counts once per differing row)
    var nChanged = 0L
    val changed = keyed.filter { r =>
      val ps = if (r.isNullAt(0)) Nil else st.prev.getOrElse(r.getString(0), Nil)
      val n = if (ps.isEmpty) 1 else ps.count(p => p == null || p.longValue != r.getLong(2))
      nChanged += n
      n > 0
    }

    // registration (J1 insert-if-absent): a changed ckey not yet registered
    // elects its min doc_id among this snapshot's changed docs
    val elected = scala.collection.mutable.LongMap.empty[Long] // ckey → content_id
    for (r <- changed; ck = r.getLong(2) if !st.byCkey.contains(ck))
      elected(ck) = math.min(r.getLong(1), elected.getOrElse(ck, Long.MaxValue))
    if (st.byCkey.size + elected.size > LOCAL_PROBE_MAX_CONTENTS) return false

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
    store.commitLocal("content", snap, content(pages).schema, fresh.iterator.map(contentRow(_)))

    val (nks, nes) = probeKeys(fresh.iterator.map(f => (f._1, f._4, f._5)))
    val (oks, oes) = probeKeys(st.content.iterator.flatten.map(a => (a._1, a._4, a._5)))
    val cands = MinHashLSH.normalizedDistinctPairsLocal(
      MinHashLSH.boundedProbePairsLocalP(nks, nes, oks, oes, cfg.maxBucket))
    if (cands.length > LOCAL_VERIFY_MAX_PAIRS) return false
    // exact-Jaccard verify: both sides' shingle sets are on the driver
    st.content += fresh
    for (f <- fresh) st.byCkey(f._1) = f
    val sh = scala.collection.mutable.LongMap.empty[Array[Int]]
    for ((a, b) <- cands; ck <- Iterator(a, b); s <- st.byCkey(ck)._3) sh(ck) = s
    val newEdges = MinHashLSH.verifiedPairsLocal(sh, cands, cfg.tau)
    store.commitLocal("edges", snap, edgesSchema, newEdges.iterator.map(p => Row(p._1, p._2)))

    // content-level clustering: the new contents and edges fold into the
    // resident union-find, whose labels are min content_ids; the documents'
    // lookup runs on the driver too
    if (st.nEdges + newEdges.length > graft.Regime.SMALL_GRAPH_MAX) return false
    st.edges += newEdges
    for (f <- fresh) st.uf.add(f._1, f._2)
    for ((a, b) <- newEdges) st.uf.union(a, b)
    // a ckey missing from the union-find would be a broken registration
    // invariant: fail loudly rather than drop the document
    store.commitLocal("assignments", snap, assignSchema, keyed.iterator.map { r =>
      val (d, ck) = (r.getLong(1), r.getLong(2))
      if (!st.uf.contains(ck)) sys.error(s"ckey $ck of doc $d has no cluster label")
      Row(d, st.uf.labelOf(ck))
    })
    commitMetrics(snap, nChanged, t0)
    resident = Some(new Resident(snap,
      urlCkeys(keyed.iterator.map(r => (r.getString(0), Long.box(r.getLong(2))))),
      st.content, st.byCkey, st.edges, st.uf, Resident.foldedIds(store, snap)))
    true
  }

  /** The resident state through snapshot `snap` − 1, collected from the
    * store: the previous (url, ckey), the accumulated content rows with
    * their shingle sets, and the prior edges — one job each; none at
    * snapshot 0. None when the previous snapshot has more pages than
    * LOCAL_ASSIGN_MAX_ROWS or the chain more edges than SMALL_GRAPH_MAX
    * (manifest counts, checked before any collect); the accumulated
    * contents were bounded by the dispatch.
    */
  private def load(snap: Int): Option[Resident] = {
    import spark.implicits._
    val content = scala.collection.mutable.ArrayBuffer.fill(snap)(Array.empty[Content])
    val edges = scala.collection.mutable.ArrayBuffer.fill(snap)(Array.empty[(Long, Long)])
    if (snap == 0) return Some(Resident(-1, Map.empty, content, edges, Nil))
    val folded = Resident.foldedIds(store, snap - 1)
    if (store.committedRows("pages_keyed", snap - 1) > LOCAL_ASSIGN_MAX_ROWS ||
        (0 until snap).map(store.committedRows("edges", _)).sum > graft.Regime.SMALL_GRAPH_MAX)
      return None
    val prev = urlCkeys(store.read("pages_keyed", snap - 1).select("url", "ckey").collect()
      .iterator.map(r => (r.getString(0), r.get(1).asInstanceOf[java.lang.Long])))
    for ((s, rows) <- store.readRange("content", 0, snap - 1)
           .select("snapshot_id", "ckey", "content_id", "sh", "sig", "sim64")
           .as[(Int, Long, Long, Option[Array[Int]], Option[Array[Long]], Option[Long])]
           .collect().groupBy(_._1))
      content(s) = rows.map(r => (r._2, r._3, r._4, r._5, r._6))
    for ((s, rows) <- store.readRange("edges", 0, snap - 1).select("snapshot_id", "a", "b")
           .as[(Int, Long, Long)].collect().groupBy(_._1))
      edges(s) = rows.map(r => (r._2, r._3))
    Some(Resident(snap - 1, prev, content, edges, folded))
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

    // ONE unified probe-key stream (MinHashLSH.probeKeyRows): LSH band
    // hashes (band index already folded into each 64-bit hash) + SimHash
    // block-combination keys share the key space and the bounded probe.
    // Keys are DERIVED from the committed content table, never stored:
    // banding a signature is a few hashes per row, while a committed key
    // table is ~52 rows per content — deriving keeps the store's state
    // linear in CONTENTS and stays resume-safe because the input is itself
    // a committed stage.
    //
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
      val newE = MinHashLSH.probeKeyRows(newContent, cfg, "ckey")
        .select(col("key"), col("ckey").as("e"))
      val cand = (if (snap == 0)
          // no accumulated state yet — the batch kernel is the same scan
          // with no old side and no is_new tag
          MinHashLSH.boundedBucketPairs(newE, Seq("key"), cfg.maxBucket)
        else MinHashLSH.boundedProbePairs(newE,
          MinHashLSH.probeKeyRows(store.readRange("content", 0, snap - 1), cfg, "ckey")
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
    * MinHashLSH.probeKeyRows evaluates (a codegen-vs-driver drift is
    * pinned by their KAT gates). NULL features contribute zero keys on both passes.
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
