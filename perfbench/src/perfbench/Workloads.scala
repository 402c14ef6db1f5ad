package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup._
import graft.pages.PagesGen
import graft.state.SnapshotStore

/** Input sizes of one workload. Every size keeps its operations on one
  * side of the product's local-vs-distributed thresholds for the whole run
  * (README.md, "Workloads").
  */
final case class Sizes(
    docs: Long = 0,         // doc ids of snapshot 0 (the page corpus adds (snapshots - 1) * snapStep)
    repeatDocs: Long = 0,   // generated doc ids of the long-repeats corpus
    snapStep: Long = 0,     // doc ids added per snapshot
    snapshots: Int = 0,     // snapshots per chain
    compactEvery: Int = 4,  // compacting snapshots: (snap + 1) % compactEvery == 0
    chunks: Int = 0,        // chunks per checkpoint
    chunkSize: Int = 0,     // characters per chunk
    checkpoints: Int = 0,   // checkpoints per chain
    freshShare: Double = 0, // share of chunks given fresh content per checkpoint
    blockMoves: Int = 0,    // aligned block swaps per checkpoint (shifted chunks)
    restarts: Int = 0)      // restartFromStore calls per chain

/** A workload: its timed sizes, and the smaller sizes of its warm-up pass. */
final case class Workload(name: String, timed: Sizes, warm: Sizes)

object Workloads {
  // Warm-up passes run on smaller inputs of another seed, in the same regime
  // as the timed ones: the cold JIT and Spark code generation they pay hardly
  // grow with the input. A warm-up at the timed sizes made the timed chains
  // no faster: the first timed pass of a chain runs 10-20% slower than a
  // second one would after either warm-up.
  val all: Seq[Workload] = Seq(
    // the warm-up chain compacts at snapshot 1, so two snapshots run every code path
    Workload("web_pages", Sizes(docs = 3000, repeatDocs = 1000, snapStep = 300, snapshots = 4),
      Sizes(docs = 850, repeatDocs = 500, snapStep = 150, snapshots = 2, compactEvery = 2)),
    Workload("checkpoint_chain",
      Sizes(chunks = 16384, chunkSize = 128, checkpoints = 2, freshShare = 0.02, blockMoves = 2, restarts = 2),
      Sizes(chunks = 4608, chunkSize = 64, checkpoints = 2, freshShare = 0.02, blockMoves = 2, restarts = 1)))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** A materialized page corpus plus its ground truth; `bytes(i)` is the
  * UTF-8 text size of doc `ids(i)`. */
final class Corpus(val df: DataFrame, val ids: Array[Long], val bytes: Array[Long],
                   val truePairs: Array[(Long, Long)]) {
  def docs: Long = ids.length
  def mb: Double = bytes.sum / 1e6
  /** doc_id → lowercased text, the string LongRepeats positions refer to */
  lazy val lowerTexts: Map[Long, String] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), lower(col("text"))).as[(Long, String)].collect().toMap
  }
  def release(): Unit = df.unpersist()
}

/** The timed operations of one workload, their output checks, and (with a
  * tracer) their per-layer spans. Durations land in `samples` under one
  * timer per operation, and each timed call adds the megabytes it processed
  * to `workMb` and its duration to `workS`; warm-up passes record nothing. */
final class Ops(spark: SparkSession, wl: Workload, scratch: Path) {
  import spark.implicits._

  private val cfg = DedupConfig()
  private val parts = spark.sparkContext.defaultParallelism * 2
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val recalls = mutable.ArrayBuffer.empty[Double]
  var workMb = 0.0
  var workS = 0.0
  /** store bytes at the end of a chain ÷ input bytes committed to it */
  var storedBytesRatio = Double.NaN
  /** record durations (false during warm-up) */
  var timing = false
  /** spans and per-layer counters (traced run only) */
  var tracer: Option[Tracer] = None

  /** Time `body`, one call processing `mb` megabytes. */
  private def timed[T](timer: String, mb: Double)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    if (timing) {
      samples.getOrElseUpdate(timer, mutable.ArrayBuffer.empty) += s
      workMb += mb
      workS += s
    }
    r
  }

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  private def counter(name: String, v: Double): Unit = tracer.foreach(_.count(name, v))
  private def countOn(layer: String, name: String, v: Double): Unit = tracer.foreach(_.countOn(layer, name, v))

  /** One operation: counted as attempted; an exception or a failed check
    * counts it as failed. */
  private def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
        false
    }
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $name") }
    System.err.println(f"[perfbench] ${wl.name} $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  // ---------------------------------------------------------------- inputs

  def corpus(seed: Long, n: Long): Corpus = {
    val df = PagesGen.pagesWithTruth(spark, n, seed, parts).toDF()
      .select("url", "doc_id", "text", "src_doc", "mode")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val meta = df.select(col("doc_id"), col("src_doc"), col("mode"), col("text"))
      .as[(Long, Long, String, String)].collect()
    val texts = meta.map(r => r._1 -> r._4).toMap
    def shingles(id: Long) = SerialOracle.shingleSet(texts(id), cfg.shingleK)
    // generator pairs (member, base) that are near-duplicates under the
    // configured threshold: a few "near" members drift below tau
    val truth = meta.collect {
      case (id, src, m, _) if Set("exact", "near", "swap")(m) && texts.contains(src) => (src, id)
    }.filter { case (a, b) => graft.functions.Impl.jaccardArr(shingles(a), shingles(b)) >= cfg.tau }
    new Corpus(df.select("url", "doc_id", "text"), meta.map(_._1),
      meta.map(_._4.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong), truth)
  }

  private def recall(truth: Array[(Long, Long)], clusters: Map[Long, Long]): Double =
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) => clusters.get(a).exists(c => clusters.get(b).contains(c)) }
      .toDouble / truth.length

  private def clusterMap(df: DataFrame, idCol: String): Map[Long, Long] =
    df.select(col(idCol), col("cluster")).as[(Long, Long)].collect().toMap

  private def checkRecall(what: String, truth: Array[(Long, Long)], clusters: Map[Long, Long],
                          docs: Long): Boolean = {
    val r = recall(truth, clusters)
    if (timing) recalls += r
    if (r < 0.99 || clusters.size != docs)
      System.err.println(s"[perfbench] $what: recall $r over ${truth.length} true pairs, " +
        s"${clusters.size} of $docs docs assigned")
    r >= 0.99 && clusters.size == docs
  }

  // -------------------------------------------------------- near-dup pass

  def nearDup(c: Corpus): Unit = op("neardup") {
    val clusters = tracer match {
      case None =>
        val res = timed("neardup", c.mb) {
          val r = NearDupPipeline.run(spark, c.df, cfg)
          r.assignments.count()
          r
        }
        try clusterMap(res.assignments, "id") finally res.close()
      case Some(_) => tracedNearDup(c)
    }
    checkRecall("neardup", c.truePairs, clusters, c.docs)
  }

  private def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = p.count()
    counter("rows_out", n.toDouble)
    (p, n)
  }

  /** NearDupPipeline.run, one public layer call at a time, each layer's
    * output materialized inside its span. */
  private def tracedNearDup(c: Corpus): Map[Long, Long] = span("NearDupPipeline.run") {
    val docs = c.df
    val (exact, _) = span("ExactDedup.assignments") {
      val (e, n) = persisted(ExactDedup.assignments(docs))
      val reps = e.filter(col("doc_id") === col("rep")).count()
      counter("distinct_share", reps.toDouble / math.max(1L, n))
      (e, n)
    }
    val reps = docs.join(exact.filter(col("doc_id") === col("rep")).select("doc_id"), Seq("doc_id"))
    val (feats, _) = span("MinHashLSH.featuresFused")(persisted(MinHashLSH.featuresFused(reps, cfg)))
    val (keys, _) = span("MinHashLSH.keys")(persisted(MinHashLSH.bandKeyRows(feats, cfg)
      .union(SimHashDedup.keyRows(feats.select(col("doc_id"), col("sim64")), cfg))))
    val (cand, nCand) = span("MinHashLSH.pairsFromKeyRows")(persisted(MinHashLSH.pairsFromKeyRows(keys, cfg)))
    val (pairs, _) = span("MinHashLSH.verifiedPairs") {
      val (p, n) = persisted(MinHashLSH.verifiedPairs(feats, cand, cfg))
      counter("verify_yield", n.toDouble / math.max(1L, nCand))
      (p, n)
    }
    val (asg, _) = span("ConnectedComponents.assignAll")(persisted(ConnectedComponents.assignAll(spark,
      docs.select(col("doc_id").as("id")),
      ExactDedup.edges(exact).select("a", "b").union(pairs.select("a", "b")))))
    try clusterMap(asg, "id")
    finally Seq(exact, feats, keys, cand, pairs, asg).foreach(_.unpersist())
  }

  // ------------------------------------------------------------ long repeats

  private val Gram = 24
  private val Window = 12
  private val MinLen = Gram + Window - 1
  private val host: Column = xxhash64(regexp_extract(col("url"), "^https?://([^/]+)/", 1))

  type SpanRow = (Long, Long, Int, Int, Int)
  private def spanRows(df: DataFrame): Array[SpanRow] =
    df.select(col("a"), col("b"), col("a_start").cast("int"), col("b_start").cast("int"),
      col("length").cast("int")).as[SpanRow].collect()

  /** Winnowing pass then host-grouped suffix-array pass; every span is
    * re-verified, and every SA span must also be a winnow span. */
  def longRepeats(c: Corpus): Unit = {
    var winnow: Array[SpanRow] = null
    lazy val texts = c.lowerTexts
    op("repeats") {
      winnow = tracer match {
        case None => spanRows(timed("repeats", c.mb)(LongRepeats.repeats(c.df, Gram, Window)))
        case Some(_) => tracedRepeats(c)
      }
      winnow.nonEmpty && winnow.forall(maximalRepeat(texts, _))
    }
    op("sa_repeats") {
      val sa = spanRows(span("LongRepeats.repeatsWithinGroups") {
        val out = timed("sa_repeats", c.mb)(LongRepeats.repeatsWithinGroups(c.df, host, MinLen))
        val n = out.count()
        counter("rows_out", n.toDouble)
        out
      })
      val inWinnow = if (winnow == null) Set.empty[SpanRow] else winnow.toSet
      sa.nonEmpty && sa.forall(maximalRepeat(texts, _)) && sa.forall(inWinnow)
    }
  }

  private def tracedRepeats(c: Corpus): Array[SpanRow] = span("LongRepeats.repeats") {
    val norm = c.df.select(col("doc_id"), lower(col("text")).as("t")).persist(StorageLevel.MEMORY_AND_DISK)
    norm.count()
    val (fps, _) = span("LongRepeats.winnowFingerprints")(
      persisted(LongRepeats.winnowFingerprints(norm, Gram, Window)))
    val (cand, nCand) = span("LongRepeats.winnowCandidatesFromFps")(
      persisted(LongRepeats.winnowCandidatesFromFps(fps, 32)))
    val spans = span("LongRepeats.verifyAndExtend") {
      val out = LongRepeats.verifyAndExtend(norm, cand, Gram, MinLen).localCheckpoint(true)
      val n = out.count()
      counter("rows_out", n.toDouble)
      counter("repeats_yield", n.toDouble / math.max(1L, nCand))
      out
    }
    try spanRows(spans) finally Seq(norm, fps, cand).foreach(_.unpersist())
  }

  /** The span's two substrings are equal, at least MinLen long, and can be
    * extended neither left nor right. */
  private def maximalRepeat(texts: Map[Long, String], r: SpanRow): Boolean = {
    val (a, b, as, bs, len) = r
    val (ta, tb) = (texts(a), texts(b))
    len >= MinLen && as >= 0 && bs >= 0 && as + len <= ta.length && bs + len <= tb.length &&
      ta.regionMatches(as, tb, bs, len) &&
      (as == 0 || bs == 0 || ta.charAt(as - 1) != tb.charAt(bs - 1)) &&
      (as + len == ta.length || bs + len == tb.length || ta.charAt(as + len) != tb.charAt(bs + len)) &&
      (a != b || as != bs)
  }

  // ---------------------------------------------------------- snapshot chain

  private def treeBytes(p: Path, pred: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && pred(f)).mapToLong(Files.size(_)).sum
      finally s.close()
    }
  private def isParquet(f: Path) = f.getFileName.toString.endsWith(".parquet")
  private def isCompacted(f: Path) = f.toString.contains("__compacted")

  private def freshDir(prefix: String): Path = {
    Files.createDirectories(scratch)
    Files.createTempDirectory(scratch, prefix)
  }
  private def dropDir(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** IncProbe's chain shape: snapshot `snap` holds the first
    * docs + snap·snapStep generated docs, and every 37th doc of snapshot 0 is
    * revised in every snapshot. */
  private def snapshotPages(c: Corpus, s: Sizes, snap: Int): DataFrame =
    c.df.filter(col("doc_id") < s.docs + snap * s.snapStep)
      .withColumn("text", when(col("doc_id") % 37 === 0 && col("doc_id") < s.docs,
        concat(col("text"), lit(s" rev$snap"))).otherwise(col("text")))

  /** UTF-8 text bytes of snapshot `snap` (`snapshotPages`), from the corpus. */
  private def snapshotBytes(c: Corpus, s: Sizes, snap: Int): Long =
    c.ids.indices.iterator.filter(i => c.ids(i) < s.docs + snap * s.snapStep).map { i =>
      c.bytes(i) + (if (c.ids(i) % 37 == 0 && c.ids(i) < s.docs) s" rev$snap".length else 0)
    }.sum

  def snapshotChain(c: Corpus, s: Sizes): Unit = {
    val root = freshDir("snapshots")
    try {
      val store = new SnapshotStore(spark, root.toString)
      val inc = new IncrementalDedup(spark, store, cfg, s.compactEvery)
      span("SnapshotStore") {
        for (snap <- 0 until s.snapshots) {
          val limit = s.docs + snap * s.snapStep
          val df = snapshotPages(c, s, snap)
          val timer =
            if (snap == 0) "bootstrap" else if ((snap + 1) % s.compactEvery == 0) "compaction" else "snapshot"
          val (pq0, cpq0, reads0) = (treeBytes(root, isParquet), treeBytes(root, f => isParquet(f) && isCompacted(f)),
            store.readCount)
          var readsAfter = reads0
          op(s"snapshot $snap") {
            val out = span("IncrementalDedup.processSnapshot") {
              timed(timer, snapshotBytes(c, s, snap) / 1e6) {
                val o = inc.processSnapshot(snap, df)
                o.count()
                o
              }
            }
            readsAfter = store.readCount
            val clusters = clusterMap(out, "doc_id")
            val layer = "IncrementalDedup.processSnapshot"
            countOn(layer, "rows_out", clusters.size.toDouble)
            if (timer == "snapshot") countOn(layer, "plain_call", 1)
            if (tracer.isDefined) {
              val r = store.read("metrics", snap).select("n_pages", "n_changed", "n_new_content", "n_edges")
                .as[(Long, Long, Long, Long)].head()
              countOn(layer, "n_changed", r._2.toDouble)
              countOn(layer, "n_new_content", r._3.toDouble)
              countOn(layer, "n_edges", r._4.toDouble)
              countOn(layer, "fixed_pages", (r._1 - r._2).toDouble)
              countOn(layer, "pages", r._1.toDouble)
            }
            checkRecall(s"snapshot $snap", c.truePairs.filter(_._2 < limit), clusters, c.ids.count(_ < limit))
          }
          counter("written_mb", (treeBytes(root, isParquet) - pq0) / 1e6)
          counter("compaction_rewritten_mb",
            (treeBytes(root, f => isParquet(f) && isCompacted(f)) - cpq0) / 1e6)
          counter("read_count", (readsAfter - reads0).toDouble)
        }
      }
      if (timing) storedBytesRatio =
        treeBytes(root).toDouble / (0 until s.snapshots).map(snapshotBytes(c, s, _)).sum
    } finally dropDir(root)
  }

  // -------------------------------------------------------- checkpoint chain

  /** Checkpoint buffers in the reference's perturbation modes: checkpoint 0
    * is random text; each later one moves `blockMoves` aligned blocks of
    * 1/16 of the buffer (shifted chunks), rewrites `freshShare` of the chunks
    * with new content, and leaves the rest fixed. */
  def buffers(seed: Long, s: Sizes): Array[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val len = s.chunks * s.chunkSize
    val cur = Array.fill(len)(('a' + rng.nextInt(26)).toChar)
    val block = (s.chunks / 16) * s.chunkSize
    Array.tabulate(s.checkpoints) { k =>
      if (k > 0) {
        for (_ <- 0 until s.blockMoves) {
          val from = rng.nextInt(16) * block
          val to = (from + (1 + rng.nextInt(15)) * block) % (16 * block)
          val tmp = java.util.Arrays.copyOfRange(cur, from, from + block)
          System.arraycopy(cur, to, cur, from, block)
          System.arraycopy(tmp, 0, cur, to, block)
        }
        for (_ <- 0 until (s.chunks * s.freshShare).toInt) {
          val at = rng.nextInt(s.chunks) * s.chunkSize
          for (i <- 0 until s.chunkSize) cur(at + i) = ('A' + rng.nextInt(26)).toChar
        }
      }
      new String(cur)
    }
  }

  def checkpointChain(bufs: Array[String], s: Sizes): Unit = {
    val root = freshDir("checkpoints")
    try {
      val store = new SnapshotStore(spark, root.toString)
      val chain = new ChunkDedup.Chain(spark, s.chunks.toLong, store = Some(store))
      for ((buf, k) <- bufs.zipWithIndex) op(s"checkpoint $k") {
        val chunks = ChunkDedup.chunkify(spark, buf, s.chunkSize)
        val before = treeBytes(root, isParquet)
        val r = span("ChunkDedup.Chain.checkpoint") {
          val r = timed("checkpoint", buf.length / 1e6)(chain.checkpoint(chunks))
          counter("rows_out", (store.committedRows("chunk_first", k) + store.committedRows("chunk_shift", k)).toDouble)
          counter("first_ocur_regions", r.numFirstOcur.toDouble)
          counter("shift_dupl_regions", r.numShiftDupl.toDouble)
          counter("committed_mb", (treeBytes(root, isParquet) - before) / 1e6)
          if (k > 0) counter("later_call", 1)
          r
        }
        r.chkptId == k && r.numFirstOcur >= 1
      }
      val last = bufs.length - 1
      for (_ <- 0 until s.restarts) op("restart") {
        val reads0 = store.readCount
        val out = span("ChunkDedup.restartFromStore") {
          timed("restart", bufs(last).length / 1e6) {
            val o = ChunkDedup.restartFromStore(spark, store, last)
            o.count()
            o
          }
        }
        val layer = "ChunkDedup.restartFromStore"
        countOn(layer, "read_count", (store.readCount - reads0).toDouble)
        val got = out.as[(Long, String)].collect()
        countOn(layer, "rows_out", got.length.toDouble)
        got.length == s.chunks && got.sortBy(_._1).iterator.map(_._2).mkString == bufs(last)
      }
      if (timing) storedBytesRatio = treeBytes(root).toDouble / bufs.map(_.length.toLong).sum
    } finally dropDir(root)
  }
}
