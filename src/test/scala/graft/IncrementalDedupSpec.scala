package graft

import java.nio.file.{Files, Path, Paths}

import graft.dedup._
import graft.pages.PagesGen
import graft.state.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalDedupSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = DedupConfig()

  /** snapshot 0: docs 0..n; snapshot 1: same urls, every 37th text changed,
    * plus m new urls — deterministic.
    */
  private def snapshotPages(snap: Int, n: Int, m: Int): DataFrame = {
    val base = PagesGen.pages(spark, n + (if (snap >= 1) m else 0), seed = 42L, partitions = 4)
    if (snap == 0) base.filter(col("doc_id") < n)
    else base.withColumn("text",
      when(col("doc_id") % 37 === 0 && col("doc_id") < n,
        concat(col("text"), lit(" fresh revision tokens zz1 zz2 zz3")))
        .otherwise(col("text")))
  }

  /** snapshot 1's pages with every 53rd page revised once more */
  private def secondWave(n: Int, m: Int): DataFrame =
    snapshotPages(1, n, m).withColumn("text", when(col("doc_id") % 53 === 0,
      concat(col("text"), lit(" second wave qq7 qq8"))).otherwise(col("text")))

  private val tables = Seq("pages_keyed", "content", "edges", "assignments", "metrics")

  private def rmrf(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  private def copyTree(from: Path, to: Path): Unit = Files.walk(from).forEach { p =>
    val q = to.resolve(from.relativize(p).toString)
    if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
  }

  /** a committed snapshot's rows as sorted strings; metrics without its
    * wall-clock column
    */
  private def stageRows(s: SnapshotStore, t: String, snap: Int): Seq[String] =
    if (t == "metrics") tableRows(s, t, snap).map(_.split('|').dropRight(1).mkString("|"))
    else tableRows(s, t, snap)

  /** a committed snapshot's rows as sorted strings (arrays spelled out) */
  private def tableRows(s: SnapshotStore, t: String, snap: Int): Seq[String] =
    s.read(t, snap).collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  private def parquetFiles(root: String, t: String, snap: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(root, t, s"snapshot=$snap"))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally ls.close()
  }

  private def mtimes(root: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith("_MANIFEST.json"))
      .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("incremental dedup across snapshots matches accumulated-content oracle; resume is a no-op") {
    val root = tempDir("graft_inc").toString
    val store = new SnapshotStore(spark, root)
    val inc = new IncrementalDedup(spark, store, cfg)

    val (n, m) = (300, 60)
    inc.processSnapshot(0, snapshotPages(0, n, m))
    val assign1 = inc.processSnapshot(1, snapshotPages(1, n, m))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign1.size == n + m)

    // oracle over ALL content ever seen (reference semantics: old checkpoints
    // stay valid dedup sources), projected onto snapshot-1 documents. The
    // store holds no text (narrow state) — recompute (ckey, text) from the
    // snapshot inputs, exactly what the engine keyed.
    val allKeyed = snapshotPages(0, n, m).select("doc_id", "text")
      .unionByName(snapshotPages(1, n, m).select("doc_id", "text"))
      .withColumn("ckey", graft.functions.gf.contentKey64(col("text")))
    val contents = store.readRange("content", 0, 1).select("ckey", "content_id")
      .join(allKeyed
        .groupBy("ckey").agg(min(struct(col("doc_id"), col("text"))).as("w"))
        .select(col("ckey"), col("w.text").as("text")), Seq("ckey"))
      .select("content_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val oraclePairs = SerialOracle.truePairs(contents, cfg)
    val oracleClusters = SerialOracle.clusters(contents.map(_._1), oraclePairs)
    // project: doc → content → oracle cluster
    val doc2content = store.read("pages_keyed", 1)
      .join(store.readRange("content", 0, 1).select("ckey", "content_id"), Seq("ckey"))
      .select("doc_id", "content_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val truePairsProjected = for {
      (a, ca) <- doc2content.toSeq; (b, cb) <- doc2content.toSeq
      if a < b && oracleClusters(ca) == oracleClusters(cb)
    } yield (a, b)
    val detected = truePairsProjected.count { case (a, b) => assign1(a) == assign1(b) }
    val recall = if (truePairsProjected.isEmpty) 1.0
      else detected.toDouble / truePairsProjected.size
    assert(truePairsProjected.nonEmpty)
    assert(recall >= 0.99, s"recall $recall over ${truePairsProjected.size} pairs")

    // changed urls moved to new content clusters where appropriate
    val changedDoc = 37L // doc 37 revised in snapshot 1
    assert(doc2content(changedDoc) == changedDoc || assign1.contains(changedDoc))

    // ---- resume: rerun is a pure no-op (no stage recomputed) --------------
    val before = mtimes(Paths.get(root))
    val inc2 = new IncrementalDedup(spark, new SnapshotStore(spark, root), cfg)
    val again = inc2.processSnapshot(1, snapshotPages(1, n, m))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == assign1)
    assert(mtimes(Paths.get(root)) == before, "resume must not rewrite committed stages")

    // ---- kill/resume: drop the last two stages, rerun completes them ------
    rmrf(Paths.get(root, "assignments", "snapshot=1"))
    rmrf(Paths.get(root, "metrics", "snapshot=1"))
    val inc3 = new IncrementalDedup(spark, new SnapshotStore(spark, root), cfg)
    val resumed = inc3.processSnapshot(1, snapshotPages(1, n, m))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == assign1)
    val after = mtimes(Paths.get(root))
    // upstream stages untouched, killed stages recommitted (the derived
    // content-clusters map recomputes deterministically from them)
    assert(after("edges/snapshot=1/_MANIFEST.json") == before("edges/snapshot=1/_MANIFEST.json"))
    assert(after("content/snapshot=1/_MANIFEST.json")
      == before("content/snapshot=1/_MANIFEST.json"))
    assert(after("assignments/snapshot=1/_MANIFEST.json")
      > before("assignments/snapshot=1/_MANIFEST.json") - 1)

    // manifests carry per-partition lineage
    val mj = store.manifestJson("edges", 1)
    assert(mj.contains("\"partitions\"") && mj.contains("\"rows\""))
  }

  test("three-snapshot chain: unchanged docs' cluster labels never increase (append-only edges only MERGE components)") {
    // Components grow monotonically across snapshots (edge tables are
    // append-only), so for a doc whose TEXT is unchanged between snapshots
    // the min-content_id cluster label can only decrease or stay — a
    // structural invariant of the content-keyed design. Revised docs may
    // legitimately move anywhere (their ckey changes).
    val (n, m) = (240, 60)
    def snap2Pages: DataFrame = {
      val base = PagesGen.pages(spark, n + 2 * m, seed = 42L, partitions = 4)
      base
        .withColumn("text",
          when(col("doc_id") % 37 === 0 && col("doc_id") < n,
            concat(col("text"), lit(" fresh revision tokens zz1 zz2 zz3")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 53 === 0 && col("doc_id") < n + m,
            concat(col("text"), lit(" second wave qq7 qq8")))
            .otherwise(col("text")))
    }
    val root = tempDir("graft_inc3").toString
    val inc = new IncrementalDedup(spark, new SnapshotStore(spark, root), cfg)
    val s1 = snapshotPages(1, n, m).persist()
    val s2 = snap2Pages.persist()
    inc.processSnapshot(0, snapshotPages(0, n, m))
    val a1 = inc.processSnapshot(1, s1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = inc.processSnapshot(2, s2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2.size == n + 2 * m)
    // docs with byte-identical text in both snapshots
    val unchanged = s1.select(col("doc_id"), col("text").as("t1"))
      .join(s2.select(col("doc_id"), col("text").as("t2")), Seq("doc_id"))
      .filter(col("t1") === col("t2")).select("doc_id")
      .collect().map(_.getLong(0))
    assert(unchanged.length > 200, "fixture must keep most docs unchanged")
    unchanged.foreach { d =>
      assert(a2(d) <= a1(d), s"doc $d label rose ${a1(d)} -> ${a2(d)}")
    }
    s1.unpersist(); s2.unpersist()
  }

  test("a LOWER doc_id re-presenting registered content keeps the frozen content_id; labels stay consistent") {
    // The content_id freeze invariant (IncrementalDedup registry stage): a
    // content is registered ONCE, by the min doc_id among the snapshot that
    // first presents it. If a later snapshot re-presents that content from a
    // LOWER doc_id (a url reverting to older text), the registry must NOT
    // re-register or re-elect — the original content_id stays, every doc
    // holding the content inherits the same cluster, and the label is the
    // FROZEN id (the deliberate divergence from a global-min-doc_id
    // election, which the driver oracle can assume only because its
    // synthesized workload never re-presents from a smaller doc_id).
    import spark.implicits._
    def pages(rows: (String, Long, String)*): DataFrame =
      rows.toSeq.toDF("url", "doc_id", "text")
    val tShared = ("the quick brown fox jumps over the lazy dog while " +
      "seventeen other animals watch from the riverbank every morning ") * 4
    val tOther = ("completely different content describing distributed " +
      "deduplication engines and their checkpoint restart protocols ") * 4
    val tB0 = ("url b original body before reverting to the shared " +
      "content with its own distinct vocabulary of terms ") * 4
    val root = tempDir("graft_inc_represent").toString
    val store = new SnapshotStore(spark, root)
    val inc = new IncrementalDedup(spark, store, cfg)

    // snapshot 0: the HIGH doc_id 100 registers the shared content
    inc.processSnapshot(0, pages(
      ("https://x/a", 100L, tShared), ("https://x/b", 5L, tB0),
      ("https://x/c", 7L, tOther)))
    // snapshot 1: url b (doc 5 < 100) REVERTS to the registered shared text
    val snap1 = pages(
      ("https://x/a", 100L, tShared), ("https://x/b", 5L, tShared),
      ("https://x/c", 7L, tOther))
    val a1 = inc.processSnapshot(1, snap1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // registry: exactly one row for the shared ckey, content_id frozen at 100
    val sharedCkey = pages(("u", 0L, tShared))
      .select(graft.functions.gf.contentKey64(col("text"))).head.getLong(0)
    val regRows = store.readRange("content", 0, 1)
      .filter(col("ckey") === sharedCkey)
      .select("content_id").collect().map(_.getLong(0))
    assert(regRows.toSeq == Seq(100L),
      s"shared content must stay registered once as 100, got ${regRows.toSeq}")

    // both holders share ONE cluster, labeled by the frozen content_id
    assert(a1(100L) == a1(5L), s"shared-content docs split: $a1")
    assert(a1(100L) == 100L, s"label must be the frozen content_id: $a1")
    assert(a1(7L) == 7L)

    // snapshot 2 (nothing changes — FIXED fast path): labels identical
    val a2 = inc.processSnapshot(2, snap1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a2 == a1, s"labels drifted on an unchanged snapshot: $a1 vs $a2")
  }

  test("incremental over 3 append-only snapshots equals the batch pipeline's clusters exactly") {
    // The strongest cross-implementation property the engine has: processing
    // a corpus incrementally (new-vs-accumulated probes, append-only edge
    // sets, star-capped hot buckets with min-OLD anchors) must land on the
    // SAME final cluster assignment as the one-shot batch pipeline (all-at-
    // once banding, batch star caps). Edge SETS differ; connectivity — and
    // therefore min-doc_id labels — must not. Append-only workload (no
    // revisions): content_id = global min doc_id per content on both sides.
    val all = PagesGen.pages(spark, 360, seed = 42L, partitions = 4)
      .select("url", "doc_id", "text").persist()
    val store = new SnapshotStore(spark,
      tempDir("graft_inc_parity").toString)
    val inc = new IncrementalDedup(spark, store, cfg)
    inc.processSnapshot(0, all.filter(col("doc_id") < 120))
    inc.processSnapshot(1, all.filter(col("doc_id") < 240))
    val incremental = inc.processSnapshot(2, all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchRes = graft.dedup.NearDupPipeline.run(spark, all, cfg)
    val batch = batchRes.assignments
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batchRes.close()
    all.unpersist()
    assert(incremental.size == 360 && batch.size == 360)
    val diff = (0L until 360L).filter(d => incremental(d) != batch(d))
    assert(diff.isEmpty,
      s"${diff.size} docs diverge, e.g. ${diff.take(5).map(d =>
        s"$d: inc=${incremental(d)} batch=${batch(d)}")}")
  }

  test("deep chain with store compaction: 8 snapshots, compacted run matches uncompacted; fan-in bounded") {
    // The reference runs 10-checkpoint chains (scripts/jobscript.sh:33); the
    // store's readRange unions one scan per committed snapshot, so a deep
    // chain needs periodic compaction (Iceberg-style rewrite) to keep the
    // fan-in bounded. Compaction must be a pure layout change: identical
    // final assignments, and a full-prefix read touches ≤ interval+1 scans.
    def snapPages(s: Int): DataFrame = {
      val base = PagesGen.pages(spark, 60 + 10 * s, seed = 42L, partitions = 4)
      base.withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(s" rev${s / 2}"))).otherwise(col("text")))
    }
    def run(compactEvery: Int): (Map[Long, Long], String) = {
      val root = tempDir(s"graft_inc_deep$compactEvery").toString
      val inc = new IncrementalDedup(spark, new SnapshotStore(spark, root), cfg,
        compactEvery)
      var last: Map[Long, Long] = Map.empty
      for (s <- 0 until 8)
        last = inc.processSnapshot(s, snapPages(s)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
      (last, root)
    }
    val compacted = for (regime <- Seq("auto", "distributed")) yield withRegime(regime) {
      val (aOff, _) = run(0)
      val (aOn, root) = run(3)
      assert(aOn == aOff, "compaction changed cluster assignments")
      val store = new SnapshotStore(spark, root)
      assert(store.isCommitted("content__compacted", 5))
      assert(store.isCommitted("edges__compacted", 5))
      // compacted prefix holds exactly the union it replaced
      val viaCompact = store.readRange("content", 0, 5)
        .select("ckey", "content_id", "snapshot_id").collect().toSet // reads compacted(5)
      val direct = (0 to 5).map(s => store.read("content", s)
          .withColumn("snapshot_id", lit(s)))
        .reduce(_ unionByName _)
        .select("ckey", "content_id", "snapshot_id").collect().toSet
      assert(viaCompact == direct)
      // fan-in: a fresh handle reading the full 8-snapshot prefix touches the
      // compacted snapshot + the 2-snapshot tail = 3 scans, not 8
      val fresh = new SnapshotStore(spark, root)
      fresh.readRange("content", 0, 7).count()
      assert(fresh.readCount == 3, s"fan-in not bounded: ${fresh.readCount} reads")
      (root, store)
    }
    // the auto chain's compactions commit from the resident rows, the
    // distributed chain's through Spark: same schema, same rows
    val Seq((localRoot, local), (sparkRoot, viaSpark)) = compacted
    for (t <- Seq("content__compacted", "edges__compacted"); s <- Seq(2, 5)) {
      assert(parquetFiles(localRoot, t, s) == Seq("part-00000-local.parquet"))
      assert(parquetFiles(sparkRoot, t, s) != Seq("part-00000-local.parquet"))
      assert(local.read(t, s).schema == viaSpark.read(t, s).schema, s"$t/$s schema differs")
      assert(tableRows(local, t, s) == tableRows(viaSpark, t, s), s"$t/$s rows differ")
    }
  }

  test("incremental probe path: hot-key flood stays bounded and coalesces into one cluster") {
    // Mirror of PipelineSpec's batch flood, on the INCREMENTAL new-vs-all
    // probe joins: snapshot 0 accumulates a 1500-doc near-duplicate flood
    // (every shared band/simhash bucket far past maxBucket=64), snapshot 1
    // probes 1500 MORE flood arrivals against the accumulated index. The
    // bounded probe kernel must emit star candidates (≤ one row per new
    // member) instead of the 1500×3000 cross product, and connectivity must
    // survive: all flood docs + the base land in ONE cluster.
    import spark.implicits._
    val baseWords = PagesGen.genText(42L, 0L)._1.split(" ")
    def floodDf(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).map { id =>
      val w = baseWords.clone()
      var i = (id % w.length).toInt
      var k = 0
      while (k < math.max(1, w.length / 100)) {
        w(i) = "flood" + id + "x" + k
        i = (i + 37) % w.length
        k += 1
      }
      (s"https://flood.example/p$id", id, w.mkString(" "))
    }.toDF("url", "doc_id", "text")
    val normal = PagesGen.pages(spark, 200, 42L, 4).select("url", "doc_id", "text")
    val snap0 = normal.unionByName(floodDf(10000, 11500))
    val snap1 = snap0.unionByName(floodDf(11500, 13000))

    val root = tempDir("graft_inc_flood").toString
    val store = new SnapshotStore(spark, root)
    val inc = new IncrementalDedup(spark, store, cfg)
    inc.processSnapshot(0, snap0)
    val assign = inc.processSnapshot(1, snap1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.size == 200 + 3000)
    val floodClusters = (10000L until 13000L).map(assign).toSet
    assert(floodClusters.size == 1, s"flood split into ${floodClusters.size} clusters")
    assert(assign(0L) == floodClusters.head, "base doc must join its flood cluster")
    // bounded emission, not a cross product: each hot bucket emits ONE star
    // edge per new member, so committed edges are ≤ (#probe keys per doc:
    // 32 bands + 20 simhash combinations = 52, anchors differ per bucket) ×
    // new members ≈ 80k — LINEAR in flood size; the unbounded join would
    // verify and commit the full pairwise set (≥ 1.1M for snapshot 0 alone)
    val e0 = store.committedRows("edges", 0)
    val e1 = store.committedRows("edges", 1)
    assert(e0 < 52L * 1500 * 2 && e1 < 52L * 1500 * 2,
      s"edge volume not bounded: $e0 / $e1")
    // snapshot 0 starts as a driver pass and stops at the candidate bound
    // (the flood's 83k star candidates exceed LOCAL_VERIFY_MAX_PAIRS): its
    // pages_keyed and content are committed driver-direct, and the
    // distributed pass resumes at the edges stage. Snapshot 1 stays under
    // the bound and is one driver pass again.
    val local = Seq("part-00000-local.parquet")
    for (t <- Seq("pages_keyed", "content"); sn <- 0 to 1)
      assert(parquetFiles(root, t, sn) == local,
        s"$t/$sn not committed by the driver pass: ${parquetFiles(root, t, sn)}")
    assert(parquetFiles(root, "edges", 0).nonEmpty && parquetFiles(root, "edges", 0) != local,
      s"edges/0 must come from the distributed stage: ${parquetFiles(root, "edges", 0)}")
    assert(parquetFiles(root, "edges", 1) == local)
  }

  test("commitLocal writes the same table Spark's writer commits (schema + rows + protocol)") {
    // the zero-job LocalParquet commit must be indistinguishable from a
    // Spark-written one: identical committed schema, identical rows read
    // back, same manifest fields, idempotent on re-commit
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("al", ArrayType(LongType)),
      StructField("d", DoubleType), StructField("bo", BooleanType)))
    val rows = Seq(
      Row(1, 10L, "alpha", Seq(1L, 2L, 3L), 1.5, true),
      Row(2, 20L, null, Seq.empty[Long], -0.25, false),
      Row(3, 30L, "γüñ", null, 0.0, true))
    val root = tempDir("graft_commit_local").toString
    val store = new SnapshotStore(spark, root)
    store.commitLocal("t_local", 0, schema, rows)
    store.commit("t_spark", 0,
      spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
        schema), approxRows = Some(rows.length.toLong))
    val local = store.read("t_local", 0)
    val viaSpark = store.read("t_spark", 0)
    assert(local.schema == viaSpark.schema)
    def key(r: Row): String = r.toSeq.map {
      case s: Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")
    assert(local.collect().map(key).sorted.toSeq
      == viaSpark.collect().map(key).sorted.toSeq)
    assert(store.committedRows("t_local", 0) == rows.length)
    assert(store.manifestJson("t_local", 0).contains("\"partitions\""))
    // idempotent: a re-commit with different rows is a no-op on a committed
    // snapshot — the resume contract commit() already has
    store.commitLocal("t_local", 0, schema, Seq(Row(9, 9L, "x", null, 9.9, false)))
    assert(store.committedRows("t_local", 0) == rows.length)
  }

  test("driver verify kernel == distributed verifiedPairs (incl. NULL shingle sets)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // shingle sets stored SORTED (the merge-intersection contract)
    val sets: Map[Long, Array[Int]] = (0L until 40L).map { id =>
      val base = Array.tabulate(120)(i => rnd.nextInt(4000))
      id -> base.distinct.sorted
    }.toMap
    // overlapping pairs + disjoint pairs + a ckey with NULL sh (45L)
    val cands = ((0L until 39L).map(i => (i, i + 1)) ++
      Seq((0L, 45L), (45L, 3L), (5L, 5L))).toArray
    val sh = scala.collection.mutable.LongMap.empty[Array[Int]]
    for ((k, v) <- sets) sh(k) = v
    val local = MinHashLSH.verifiedPairsLocal(sh, cands, tau = 0.05).toSet
    val feats = (sets.toSeq.map { case (k, v) => (k, Option(v.toSeq)) } :+
      (45L, Option.empty[Seq[Int]])).toDF("doc_id", "sh")
    val dist = MinHashLSH.verifiedPairs(feats,
      cands.toSeq.toDF("a", "b"), cfg.copy(tau = 0.05))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == dist)
    assert(local.nonEmpty, "fixture must verify at least one pair")
    assert(!local.exists(p => p._1 == 45L || p._2 == 45L))
    // the driver normalize == the distributed filter/least/greatest/distinct
    val raw = Array((3L, 7L), (7L, 3L), (3L, 3L), (9L, 2L), (2L, 9L), (9L, 2L))
    val normLocal = MinHashLSH.normalizedDistinctPairsLocal(raw).toSet
    val normDist = raw.toSeq.toDF("p", "q")
      .filter(col("p") =!= col("q"))
      .select(least(col("p"), col("q")).as("a"), greatest(col("p"), col("q")).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(normLocal == normDist && normLocal == Set((3L, 7L), (2L, 9L)))
  }

  test("local-dispatch snapshot chain commits identical tables to the forced-distributed twin") {
    // every small-regime driver dispatch (probe kernel, driver verify +
    // zero-job edges commit, relabel, local assignments) against the full
    // distributed path on the same two snapshots: committed edges,
    // assignments and metrics must be row-identical
    val (n, m) = (250, 50)
    def run(regime: String): SnapshotStore = withRegime(regime) {
      val root = tempDir(s"graft_inc_twin_$regime").toString
      val store = new SnapshotStore(spark, root)
      val inc = new IncrementalDedup(spark, store, cfg)
      inc.processSnapshot(0, snapshotPages(0, n, m))
      inc.processSnapshot(1, snapshotPages(1, n, m))
      store
    }
    val (ls, ds) = (run("auto"), run("distributed"))
    for (snapId <- 0 to 1) {
      def tbl(s: SnapshotStore, t: String): Seq[Seq[Any]] =
        s.read(t, snapId).collect().map(_.toSeq).toSeq
          .sortBy(_.mkString(","))
      for (t <- Seq("edges", "assignments", "pages_keyed"))
        assert(tbl(ls, t) == tbl(ds, t), s"$t/$snapId differs")
      // metrics: identical except the wall-clock column
      val Seq(lm) = tbl(ls, "metrics"); val Seq(dm) = tbl(ds, "metrics")
      assert(lm.dropRight(1) == dm.dropRight(1), s"metrics/$snapId differs")
      assert(ls.read("metrics", snapId).schema == ds.read("metrics", snapId).schema)
      assert(ls.read("edges", snapId).schema == ds.read("edges", snapId).schema)
    }
    // the fixture must actually exercise the verify: snapshot 1 has edges
    assert(ls.committedRows("edges", 1) > 0)
  }

  test("small-regime snapshot job count stays at the r6.3 floor") {
    // the weather-independent cost of a toy-scale snapshot is its JOB count
    // (scheduling latency dominates; wall seconds on this host carry 1.5-4x
    // ambient noise). On a 3-snapshot chain, each small snapshot is one
    // driver pass: the pages_keyed collect and the fresh contents' features;
    // the live instance holds everything else resident. A fresh instance
    // first reloads the previous (url, ckey), the accumulated contents and
    // the prior edges. Ceilings sit just above that floor so any regression
    // (a new eager action, a lost dispatch, a reintroduced schema-inference
    // job) fails loudly.
    val (n, m) = (250, 50)
    val root = tempDir("graft_inc_jobs").toString
    val inc = new IncrementalDedup(spark, new SnapshotStore(spark, root), cfg)
    // snapshot 2 revises every 53rd page of snapshot 1 once more
    val pages = Seq(snapshotPages(0, n, m), snapshotPages(1, n, m), secondWave(n, m))
    pages.foreach(_.count()) // materialize inputs outside the counted window
    val jobs = pages.indices.map(s => withJobs(inc.processSnapshot(s, pages(s)))._2)
    assert(jobs(0) <= 3, s"snapshot 0 took ${jobs(0)} jobs (floor is 2)")
    for (s <- 1 to 2) assert(jobs(s) <= 3, s"snapshot $s took ${jobs(s)} jobs (floor is 2)")
    val reloadRoot = tempDir("graft_inc_jobs_reload").toString
    val first = new IncrementalDedup(spark, new SnapshotStore(spark, reloadRoot), cfg)
    for (s <- 0 to 1) first.processSnapshot(s, pages(s))
    val reload = withJobs(new IncrementalDedup(spark, new SnapshotStore(spark, reloadRoot), cfg)
      .processSnapshot(2, pages(2)))._2
    assert(reload <= 7, s"a fresh instance's snapshot 2 took $reload jobs (floor is 5)")
  }

  test("a live instance reloads its resident state when another instance recommits a folded snapshot") {
    // instance A folds snapshots 0-1; snapshot 1's stages are then dropped
    // and instance B recommits snapshot 1 from pages with the same urls,
    // page count and new-content count but other text. Row counts cannot
    // tell A that its state is stale; the manifests' commit_ids do.
    val (n, m) = (250, 50)
    val other1 = snapshotPages(0, n, m).unionByName(snapshotPages(1, n, m).filter(col("doc_id") >= n))
      .withColumn("text", when(col("doc_id") % 37 === 0 && col("doc_id") < n,
        concat(col("text"), lit(" another revision yy1 yy2 yy3"))).otherwise(col("text")))
    val root = tempDir("graft_inc_recommit")
    val store = new SnapshotStore(spark, root.toString)
    val a = new IncrementalDedup(spark, store, cfg)
    for (s <- 0 to 1) a.processSnapshot(s, snapshotPages(s, n, m))
    val counts = Seq("pages_keyed", "content").map(store.committedRows(_, 1))
    tables.foreach(t => rmrf(root.resolve(t).resolve("snapshot=1")))
    new IncrementalDedup(spark, new SnapshotStore(spark, root.toString), cfg)
      .processSnapshot(1, other1)
    assert(Seq("pages_keyed", "content").map(store.committedRows(_, 1)) == counts,
      "the recommit must keep the page and content counts")
    // snapshot 2 re-presents A's snapshot 1: against the store every
    // revised url changed again; against A's stale state nothing did
    val twin = tempDir("graft_inc_recommit_twin")
    copyTree(root, twin)
    val twinStore = new SnapshotStore(spark, twin.toString)
    a.processSnapshot(2, snapshotPages(1, n, m))
    new IncrementalDedup(spark, twinStore, cfg).processSnapshot(2, snapshotPages(1, n, m))
    for (t <- tables)
      assert(stageRows(store, t, 2) == stageRows(twinStore, t, 2), s"$t/2 differs")
    assert(store.committedRows("content", 2) > 0, "snapshot 2 must register contents")
  }

  test("a distributed snapshot between driver passes: auto, distributed, auto matches all-auto") {
    val (n, m) = (250, 50)
    val pages = Seq(snapshotPages(0, n, m), snapshotPages(1, n, m), secondWave(n, m))
    def run(regimes: Seq[String]): (String, SnapshotStore) = {
      val root = tempDir("graft_inc_mixed").toString
      val store = new SnapshotStore(spark, root)
      val inc = new IncrementalDedup(spark, store, cfg)
      for ((r, s) <- regimes.zipWithIndex) withRegime(r)(inc.processSnapshot(s, pages(s)))
      (root, store)
    }
    val (mixedRoot, mixed) = run(Seq("auto", "distributed", "auto"))
    val (_, auto) = run(Seq("auto", "auto", "auto"))
    assert(parquetFiles(mixedRoot, "edges", 1) != Seq("part-00000-local.parquet"),
      "snapshot 1 must run on the distributed pass")
    for (t <- tables; s <- 0 to 2)
      assert(stageRows(mixed, t, s) == stageRows(auto, t, s), s"$t/$s differs")
  }

  test("partial resume of a killed snapshot recommits identical tables, on both dispatches") {
    // a run killed after `content` (or after `pages_keyed`) of snapshot 1:
    // the rerun recomputes only the missing stages, and every committed
    // table equals the uninterrupted run's — on the driver pass and on the
    // forced-distributed pass alike
    val (n, m) = (250, 50)
    for (regime <- Seq("auto", "distributed")) withRegime(regime) {
      val ref = tempDir(s"graft_inc_resume_ref_$regime")
      val inc = new IncrementalDedup(spark, new SnapshotStore(spark, ref.toString), cfg)
      for (s <- 0 to 1) inc.processSnapshot(s, snapshotPages(s, n, m))
      for (killed <- Seq(Seq("edges", "assignments", "metrics"),
                         Seq("content", "edges", "assignments", "metrics"))) {
        val root = tempDir(s"graft_inc_resume_$regime")
        copyTree(ref, root)
        killed.foreach(t => rmrf(root.resolve(t).resolve("snapshot=1")))
        val store = new SnapshotStore(spark, root.toString)
        new IncrementalDedup(spark, store, cfg).processSnapshot(1, snapshotPages(1, n, m))
        val refStore = new SnapshotStore(spark, ref.toString)
        for (t <- tables; s <- 0 to 1) {
          // metrics: identical except the wall-clock column
          def rows(st: SnapshotStore) =
            if (t == "metrics") tableRows(st, t, s).map(_.split('|').dropRight(1).mkString("|"))
            else tableRows(st, t, s)
          assert(rows(store) == rows(refStore),
            s"$t/$s differs after resuming without ${killed.mkString(",")} (regime $regime)")
        }
      }
    }
  }

  test("collectAtMost: every row at the bound, None one row past it, at most max + 1 rows per task") {
    import spark.implicits._
    val pulled = spark.sparkContext.collectionAccumulator[Int]("rows pulled per partition")
    val ds = spark.sparkContext.parallelize(0 until 1000, 4).map { i =>
      pulled.add(org.apache.spark.TaskContext.getPartitionId()); i
    }.toDS()
    assert(IncrementalDedup.collectAtMost(ds, 1000).map(_.sorted.toSeq)
      == Some((0 until 1000).toSeq))
    assert(IncrementalDedup.collectAtMost(ds, 999).isEmpty)
    pulled.reset()
    assert(IncrementalDedup.collectAtMost(ds, 10).isEmpty)
    import scala.jdk.CollectionConverters._
    // the job is cancelled past the bound, so tasks it killed report nothing
    val perPart = pulled.value.asScala.groupBy(identity).map { case (p, v) => p -> v.size }
    assert(perPart.nonEmpty && perPart.values.forall(_ <= 11),
      s"a task pulled more than max + 1 rows: $perPart")
    assert(IncrementalDedup.collectAtMost(spark.emptyDataFrame, 0).map(_.length) == Some(0))
  }

  test("collectAtMost past the bound cancels its job before the results trip spark.driver.maxResultSize") {
    import spark.implicits._
    // 100 tasks × 501 rows × ~200 B ≈ 10 MB of task results against a 4 MB
    // limit: a job that ran every task would abort. The limit is read when a
    // stage is submitted, so it is set on the live context for this spec only.
    val sc = spark.sparkContext
    val conf = classOf[org.apache.spark.SparkContext].getMethod("conf").invoke(sc)
      .asInstanceOf[org.apache.spark.SparkConf]
    val key = "spark.driver.maxResultSize"
    val saved = conf.getOption(key)
    val ds = spark.range(0, 100000, 1, 100).map(i => "x" * 200 + i)
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo.successful) finished.incrementAndGet()
    }
    conf.set(key, "4m")
    try {
      val err = intercept[org.apache.spark.SparkException](
        sc.runJob(ds.rdd, (it: Iterator[String]) => it.take(501).toArray))
      assert(err.getMessage.contains("maxResultSize"), err.getMessage)
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try assert(IncrementalDedup.collectAtMost(ds, 500).isEmpty)
      finally {
        org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
      assert(finished.get() < 100, s"all ${finished.get()} tasks ran to completion")
    } finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.remove(key)
    }
  }

  test("driver cluster-relabel kernel == forced-distributed relabel (random graph)") {
    // the small regime's resident union-find (min content_id per component,
    // folded the way the driver pass folds it) must agree with the distributed star-rounds +
    // join/groupBy relabel on an adversarial fixture: multi-node components,
    // singletons, duplicate content_ids across components
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 500
    val reg = Array.tabulate(n)(i => (1000L + i, rnd.nextInt(120).toLong))
    val edges = Array.fill(300)(
      (1000L + rnd.nextInt(n), 1000L + rnd.nextInt(n))).filter(e => e._1 != e._2)
    val uf = new ConnectedComponents.UnionFind
    for ((ck, cid) <- reg) uf.add(ck, cid)
    for ((a, b) <- edges) uf.union(a, b)
    val local = reg.map { case (ck, _) => ck -> uf.labelOf(ck) }.toMap
    val regDf = reg.toSeq.toDF("ckey", "content_id")
    val eDf = edges.toSeq.toDF("a", "b")
    val comps = withRegime("distributed")( // force the distributed star rounds
      ConnectedComponents.assignAll(spark, regDf.select("ckey"), eDf))
    val labels = comps.join(regDf, comps("id") === regDf("ckey"))
      .groupBy(comps("cluster")).agg(min("content_id").as("cc"))
    val dist = comps.join(labels, "cluster").select(col("id"), col("cc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.size == n && local == dist)
  }
}
