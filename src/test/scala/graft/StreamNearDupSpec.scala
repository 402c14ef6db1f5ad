package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming near-dup discovery vs the batch pipeline: the drained stream's
  * verified pair set must EQUAL NearDupPipeline's verified pairs (which the
  * DuckDB all-pairs J≥τ oracle pins to recall 1.0 on these corpora) — in a
  * single AvailableNow batch and across multi-file micro-batched arrival.
  */
class StreamNearDupSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = graft.dedup.DedupConfig(maxBucket = 1 << 20)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("a"), col("b"), round(col("jac"), 6).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def corpus(n: Long) =
    graft.pages.PagesGen.pages(spark, n, seed = 77L, partitions = 4)
      .select("doc_id", "text")

  test("drained stream pairs == batch pipeline pairs (single batch)") {
    val docs = corpus(600).cache()
    val dir = tempDir("graft_snd").toString
    docs.write.mode("overwrite").parquet(s"$dir/pages")

    val streamed = pairSet(graft.streaming.StreamNearDup.pairs(
      spark, s"$dir/pages", docs, cfg))

    val pipe = graft.dedup.NearDupPipeline.run(spark, docs, cfg)
    val batch = try pairSet(pipe.pairs) finally pipe.close()
    docs.unpersist()

    assert(streamed.nonEmpty, "corpus should contain near-dup pairs")
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(5)}; " +
        s"batch-only: ${(batch -- streamed).take(5)}")
  }

  test("multi-batch arrival (1 file per trigger, doc_id-ordered) emits the same set") {
    val docs = corpus(600).cache()
    val dir = tempDir("graft_snd_mb").toString
    // three doc_id-range files = three crawl snapshots; mod-times spaced so
    // the file source (ordered by timestamp) replays them as three
    // micro-batches in snapshot order — the frozen-rep invariant's regime
    for ((lo, hi, i) <- Seq((0L, 200L, 0), (200L, 400L, 1), (400L, 601L, 2))) {
      val p = s"$dir/pages/part$i"
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p)
      for (g <- f.listFiles()) g.setLastModified(1700000000000L + i * 60000L)
    }
    // flatten: the file source lists recursively only with a glob — stage a
    // single dir of the three part files
    val flat = tempDir("graft_snd_flat")
    var k = 0
    for (i <- 0 until 3) {
      val src = new java.io.File(s"$dir/pages/part$i")
      for (g <- src.listFiles() if g.getName.endsWith(".parquet")) {
        val dst = flat.resolve(s"b$i-$k.parquet")
        java.nio.file.Files.copy(g.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
        k += 1
      }
    }

    val streamed = pairSet(graft.streaming.StreamNearDup.pairs(
      spark, flat.toString, docs, cfg, maxFilesPerTrigger = Some(1)))

    val pipe = graft.dedup.NearDupPipeline.run(spark, docs, cfg)
    val batch = try pairSet(pipe.pairs) finally pipe.close()
    docs.unpersist()

    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(5)}; " +
        s"batch-only: ${(batch -- streamed).take(5)}")
  }

  test("durable checkpoint: a restarted drain resumes bucket state, never re-emits") {
    val docs = corpus(600).cache()
    val stage = tempDir("graft_snd_res")
    val streamDir = stage.resolve("stream"); java.nio.file.Files.createDirectory(streamDir)
    val outDir = stage.resolve("out").toString
    val ckpt = stage.resolve("ckpt").toString
    def addBatch(lo: Long, hi: Long, i: Int): Unit = {
      val p = stage.resolve(s"b$i").toString
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(p)
      for (g <- new java.io.File(p).listFiles() if g.getName.endsWith(".parquet")) {
        val dst = streamDir.resolve(s"b$i.parquet")
        java.nio.file.Files.copy(g.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L)
      }
    }
    def sinkFiles(): Set[String] = {
      val d = new java.io.File(outDir)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }

    // run 1: only the first crawl snapshot exists
    addBatch(0, 300, 0)
    graft.streaming.StreamNearDup.drainCandidatesToDir(
      spark, streamDir.toString, outDir, ckpt, cfg)
    val files1 = sinkFiles()
    val rows1 = spark.read.parquet(files1.toSeq: _*).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows1.nonEmpty && rows1.forall { case (p, q) => p < 300 && q < 300 })

    // run 2: second snapshot arrives; SAME checkpoint — bucket state must
    // resume, so every emitted pair involves a batch-2 content (a lost
    // state store would re-register batch-1 contents and re-emit their
    // intra-batch pairs)
    addBatch(300, 601, 1)
    graft.streaming.StreamNearDup.drainCandidatesToDir(
      spark, streamDir.toString, outDir, ckpt, cfg)
    val files2 = sinkFiles() -- files1
    val rows2 = spark.read.parquet(files2.toSeq: _*).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows2.nonEmpty && rows2.forall { case (p, q) => math.max(p, q) >= 300 })

    // the accumulated sink, verified, equals the batch pipeline end to end
    val all = graft.streaming.StreamNearDup.verify(
      spark, spark.read.parquet((files1 ++ files2).toSeq: _*).toDF("p", "q"),
      docs, cfg)
    val pipe = graft.dedup.NearDupPipeline.run(spark, docs, cfg)
    val batch = try pairSet(pipe.pairs) finally pipe.close()
    docs.unpersist()
    assert(pairSet(all) == batch)
  }

  test("emitBucket property: random batched arrival == frozen-rep reference (200 trials)") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 200) {
      val nRows = 1 + rnd.nextInt(60)
      // small id spaces force collisions: repeated ckeys (exact dups),
      // repeated keys (shared buckets), doc ties broken by min
      val rows = Array.fill(nRows)(
        (rnd.nextInt(5).toLong, rnd.nextInt(12).toLong, rnd.nextInt(100).toLong))
      val nBatches = 1 + rnd.nextInt(4)
      val batches = rows.grouped(math.max(1, (nRows + nBatches - 1) / nBatches)).toSeq

      // reference: replay the frozen-rep rule per key across batches
      val reg = scala.collection.mutable.Map.empty[Long, // key
        scala.collection.mutable.LinkedHashMap[Long, Long]] // ckey -> rep
      val expected = scala.collection.mutable.Set.empty[(Long, Long)]
      for (batch <- batches; (key, group) <- batch.groupBy(_._1)) {
        val st = reg.getOrElseUpdate(key,
          scala.collection.mutable.LinkedHashMap.empty)
        val fresh = group.filter(r => !st.contains(r._2))
          .groupBy(_._2).map { case (ck, rs) => ck -> rs.map(_._3).min }
        val news = fresh.values.toArray.sorted
        for (i <- news.indices) {
          for (o <- st.values) expected += ((math.min(news(i), o), math.max(news(i), o)))
          for (j <- i + 1 until news.length)
            expected += ((math.min(news(i), news(j)), math.max(news(i), news(j))))
        }
        st ++= fresh
      }

      // operator: same batches through emitBucket with persistent state
      val states = scala.collection.mutable.Map
        .empty[Long, graft.streaming.StreamNearDup.BucketState]
      val got = scala.collection.mutable.Set.empty[(Long, Long)]
      for (batch <- batches; (key, group) <- batch.groupBy(_._1)) {
        val gs = org.apache.spark.sql.graftx.TestGroupState.forStreaming(states.get(key))
        got ++= graft.streaming.StreamNearDup
          .emitBucket(group.iterator, gs, 1 << 20)
          .map { case (p, q) => (math.min(p, q), math.max(p, q)) }
        if (gs.exists) states(key) = gs.get
      }
      assert(got == expected,
        s"got-only: ${(got -- expected).take(5)}; exp-only: ${(expected -- got).take(5)}")
    }
  }

  test("emitBucket: exact dups register once, new×old and new×new pairs, frozen rep") {
    def state(st: Option[graft.streaming.StreamNearDup.BucketState]) =
      org.apache.spark.sql.graftx.TestGroupState.forStreaming(st)
    // batch 1: ckey 10 twice (docs 7, 3 — rep must be min=3), ckey 20 (doc 9)
    val s1 = state(None)
    val out1 = graft.streaming.StreamNearDup.emitBucket(
      Iterator((1L, 10L, 7L), (1L, 20L, 9L), (1L, 10L, 3L)), s1, 1024).toSet
    assert(out1 == Set((3L, 9L)))
    val st1 = s1.get
    assert(st1.ckeys.toSet == Set(10L, 20L) && st1.reps.toSet == Set(3L, 9L))
    // batch 2: ckey 10 re-presented with a LOWER doc (1) — frozen, no emit;
    // new ckey 30 (doc 5) pairs with both registered reps
    val s2 = state(Some(st1))
    val out2 = graft.streaming.StreamNearDup.emitBucket(
      Iterator((1L, 10L, 1L), (1L, 30L, 5L)), s2, 1024).toSet
    assert(out2 == Set((5L, 3L), (5L, 9L)))
    assert(s2.get.reps.toSet == Set(3L, 9L, 5L))
    // listing bound is loud, not truncating
    val s3 = state(Some(s2.get))
    assertThrows[IllegalArgumentException] {
      graft.streaming.StreamNearDup.emitBucket(
        Iterator((1L, 40L, 11L)), s3, 3).toSet
    }
  }
}
