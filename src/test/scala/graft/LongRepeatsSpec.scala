package graft

import graft.dedup.{LongRepeats, SuffixArray}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LongRepeatsSpec extends AnyFunSuite with SparkTestBase {

  test("suffix array + LCP on the classic fixture") {
    val s = "banana".getBytes("UTF-8")
    val sa = SuffixArray.build(s)
    assert(sa.toSeq == Seq(5, 3, 1, 0, 4, 2))
    assert(SuffixArray.kasai(s, sa).toSeq == Seq(1, 3, 0, 0, 2))
  }

  test("SA-IS equals a naive suffix sort and Kasai a naive LCP: random, all-equal, periodic and 0x00-separated inputs") {
    def common(s: Array[Byte], x: Int, y: Int): Int = {
      var k = 0
      while (x + k < s.length && y + k < s.length && s(x + k) == s(y + k)) k += 1
      k
    }
    // unsigned byte order; a suffix that is a prefix of another sorts first
    def naiveSa(s: Array[Byte]): Array[Int] = s.indices.toArray.sortWith { (x, y) =>
      val k = common(s, x, y)
      x + k == s.length || (y + k < s.length && (s(x + k) & 0xff) < (s(y + k) & 0xff))
    }
    val rnd = new scala.util.Random(4096)
    def random(n: Int, alphabet: Int): Array[Byte] =
      Array.fill(n)((if (alphabet == 256) rnd.nextInt(256) else 'a' + rnd.nextInt(alphabet)).toByte)
    val randomInputs = for (alphabet <- Seq(1, 2, 4, 256);
                            n <- Seq(0, 1, 2, 3, 4096) ++ Seq.fill(5)(rnd.nextInt(4097)))
      yield s"random n=$n alphabet=$alphabet" -> random(n, alphabet)
    val periodic = for (p <- Seq(2, 3, 7, 64))
      yield s"periodic p=$p" -> Array.tabulate(4096)(i => ('a' + i % p).toByte)
    val separated = for (k <- Seq(1, 8, 60)) yield s"0x00-separated docs=$k" ->
      Seq.fill(k)(random(rnd.nextInt(4096 / k), 3) :+ 0.toByte).reduce(_ ++ _)
    for ((name, s) <- randomInputs ++ periodic ++ separated ++
         Seq("all-equal 0x00" -> Array.fill(4096)(0.toByte))) {
      val sa = SuffixArray.build(s)
      assert(sa.toSeq == naiveSa(s).toSeq, name)
      assert(SuffixArray.kasai(s, sa).toSeq ==
        (0 until s.length - 1).map(i => common(s, sa(i), sa(i + 1))), name)
    }
  }

  private def mkDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // non-repetitive fillers (a fixture with internal repeats would trip the
  // detector legitimately)
  private val filler1 = (0 until 40).map(i => s"alpha$i").mkString(" ") + " "
  private val filler2 = (0 until 40).map(i => s"beta$i").mkString(" ") + " "
  private val shared = "the exact same long boilerplate legal disclaimer paragraph " +
    "appears verbatim in both documents word for word"

  test("winnowing pass finds the maximal cross-doc repeat (exact span)") {
    val docs = mkDocs(
      1L -> (filler1 + shared + " unique tail one"),
      2L -> (filler2 + shared + " different ending two"),
      3L -> "completely unrelated content with nothing shared at all")
    val got = LongRepeats.repeats(docs, gram = 24, window = 12).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    val norm1 = (filler1 + shared + " unique tail one").toLowerCase
    val span = norm1.substring(r.getInt(2), r.getInt(2) + r.getInt(4))
    // maximal span = shared text plus the one boundary space that matches
    assert(span.contains(shared))
    assert(r.getInt(4) >= shared.length)
  }

  test("winnowing guarantee: repeats >= gram+window-1 are never missed") {
    val rnd = new scala.util.Random(99)
    def words(n: Int, tag: String) = (0 until n).map(_ => tag + rnd.nextInt(100000)).mkString(" ")
    val gram = 24; val window = 12
    val planted = "z z z shared segment marker " + ("k9 " * 12) // > 35 chars
    val docs = mkDocs((0L until 20L).map { i =>
      i -> (words(30, s"u${i}w") + " " + planted + " " + words(30, s"v${i}w"))
    }: _*)
    val got = LongRepeats.repeats(docs, gram, window, maxBucket = 64).collect()
    // every doc pair shares the planted repeat → C(20,2) pairs detected
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 190, s"got ${pairs.size} pairs")
    got.foreach(r => assert(r.getInt(4) >= planted.trim.length))

    // a shared pre-materialized fingerprint frame (the session-cache path
    // the driver queries run) yields the identical span set
    import org.apache.spark.sql.functions.{col, lower}
    val fps = LongRepeats.winnowFingerprints(
      docs.select(col("doc_id"), lower(col("text")).as("t")), gram, window)
      .localCheckpoint(true)
    val viaFps = LongRepeats.repeats(docs, gram, window, maxBucket = 64,
      precomputedFps = Some(fps)).collect()
    def spanSet(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    assert(spanSet(viaFps) == spanSet(got))
  }

  test("suffix-array pass matches winnowing on co-partitioned docs and catches shorter repeats") {
    val short = "short shared piece of text!!" // 28 chars < gram+window-1
    val docs = mkDocs(
      10L -> (filler1 + short + " xxx"),
      11L -> (filler2 + short + " yyy")).repartition(1)
    val sa = LongRepeats.repeatsWithinGroups(docs, lit(0L), minLen = 20).collect()
    assert(sa.exists { r =>
      r.getLong(0) == 10L && r.getLong(1) == 11L && r.getInt(4) >= short.length
    })
    // the winnow pass at default (gram 24, window 12 → guarantee 35) may miss
    // this 28-char repeat — that gap is exactly why the SA pass exists
  }

  test("SA pass: doc-START-aligned shared prefixes are detected mid-partition") {
    // Both suffixes of a shared doc-start prefix are preceded by the 0x00
    // separator, which compares EQUAL — a left-maximality test that only
    // compares preceding bytes drops the anchor and silently misses the
    // repeat (e.g. shared per-host boilerplate headers). Three docs sharing
    // the prefix guarantee at least one pair sits fully mid-buffer.
    val prefix = "identical host boilerplate header shared verbatim across pages "
    val docs = mkDocs(
      20L -> (prefix + filler1),
      21L -> (prefix + filler2),
      22L -> (prefix + (0 until 40).map(i => s"gamma$i").mkString(" "))).repartition(1)
    val got = LongRepeats.repeatsWithinGroups(docs, lit(0L), minLen = 40).collect()
    val pairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    // run-pair emission (r4) yields the FULL C(3,2) clique over the m
    // sharers — the same all-pairs contract as winnowing and the LCE
    // oracle. (The pre-r4 SA-adjacency kernel emitted only the spanning
    // path; before the separator fix, only the pair touching buffer offset
    // 0 survived at all — both preceding bytes are the 0x00 separator,
    // which compares equal.)
    assert(pairs == Set((20L, 21L), (20L, 22L), (21L, 22L)), s"got $pairs")
    got.foreach { r =>
      assert(r.getInt(2) == 0 && r.getInt(3) == 0) // spans anchored at doc start
      assert(r.getInt(4) >= prefix.trim.length)
    }
  }

  test("group-scoped SA pass: full same-group clique, cross-group repeats excluded, partitioning-independent") {
    val fill3 = (0 until 40).map(i => s"gamma$i").mkString(" ") + " "
    val docs = mkDocs(
      0L -> (filler1 + shared + " unique zero"),
      1L -> (filler2 + shared + " unique one"),
      2L -> (fill3 + shared + " unique two"),
      3L -> "nothing shared in this document at all")
    // one group (doc_id / 4): the three sharers form the full C(3,2) clique
    val all = LongRepeats.repeatsWithinGroups(docs,
        (col("doc_id") / 4).cast("long"), minLen = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((0L, 1L), (0L, 2L), (1L, 2L)), s"got $all")
    // split groups (doc_id / 2): the cross-group pairs (0,2) and (1,2)
    // vanish — the contract is group-scoped, not partition-accident-scoped
    val grouped = LongRepeats.repeatsWithinGroups(docs,
        (col("doc_id") / 2).cast("long"), minLen = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grouped == Set((0L, 1L)), s"got $grouped")
  }

  /** All maximal common spans ≥ minLen between (and inside) docs — the
    * O(n²·len) definition, enumerated directly: every left-maximal offset
    * pair extended to its maximal length. The SA run-pair kernel must equal
    * this exactly (modulo RUN_CAP stars, tested separately).
    */
  private def bruteSpans(docs: Seq[(Long, String)],
                         minLen: Int): Set[(Long, Long, Int, Int, Int)] = {
    val out = scala.collection.mutable.Set.empty[(Long, Long, Int, Int, Int)]
    for ((da, taR) <- docs; (db, tbR) <- docs if da <= db) {
      val ta = taR.toLowerCase; val tb = tbR.toLowerCase
      for (i <- ta.indices; j <- tb.indices if !(da == db && i == j)) {
        if (i == 0 || j == 0 || ta(i - 1) != tb(j - 1)) {
          var l = 0
          while (i + l < ta.length && j + l < tb.length && ta(i + l) == tb(j + l)) l += 1
          if (l >= minLen)
            out += (if (da == db && i > j) (da, db, j, i, l) else (da, db, i, j, l))
        }
      }
    }
    out.toSet
  }

  test("run-pair SA kernel equals the brute-force maximal-span definition on random small-alphabet corpora") {
    val rnd = new scala.util.Random(20260817L)
    for (round <- 0 until 5) {
      val nDocs = 3 + rnd.nextInt(3)
      val docs = (0L until nDocs.toLong).map { id =>
        // 3-letter alphabet at length ~100 breeds many multi-occurrence
        // repeats → lcp runs with > 2 members, the run-pair logic's stress
        id -> (0 until (80 + rnd.nextInt(60))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }
      val expected = bruteSpans(docs, minLen = 8)
      val got = LongRepeats.repeatsWithinGroups(mkDocs(docs: _*), lit(0L), minLen = 8)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
        .toSet
      assert(got == expected,
        s"round $round: missing=${(expected -- got).take(5)} spurious=${(got -- expected).take(5)}")
      assert(expected.nonEmpty, s"round $round fixture degenerate")
    }
  }

  test("degenerate run past RUN_CAP: star pairs only, still sound") {
    // 700 'a's → every suffix shares >= minLen prefix, one run of ~700 >
    // RUN_CAP 512 → the kernel stars against the run head instead of the
    // C(700,2) clique; every emitted row must still be a true maximal span
    val docs = mkDocs(0L -> ("a" * 700))
    val got = LongRepeats.repeatsWithinGroups(docs, lit(0L), minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got.nonEmpty)
    val expected = bruteSpans(Seq(0L -> ("a" * 700)), 10)
    got.foreach(row => assert(expected.contains(row), s"unsound row $row"))
    assert(got.length < 5000, s"star cap failed: ${got.length} rows")
  }

  test("SA departures are counted in named accumulators and warned: capped lcp runs and oversized docs") {
    // doc 0: a 700-byte run of one letter (one lcp run past RUN_CAP); doc 1:
    // a doc that alone exceeds SEGMENT_MAX (skipped by the SA pass), built
    // on the executor rather than shipped inside a task
    val docs = mkDocs(0L -> ("a" * 700)).union(spark.range(1).select(lit(1L).as("doc_id"),
      expr(s"repeat('b', ${LongRepeats.SEGMENT_MAX})").as("text")))
    val counters = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        for (a <- e.stageInfo.accumulables.values; n <- a.name
             if n.startsWith("graft.longrepeats."); v <- a.value)
          counters.put(n, math.max(counters.getOrElse(n, 0L), v.toString.toLong))
    }
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    System.setErr(new java.io.PrintStream(err, true))
    val got = try {
      val out = LongRepeats.repeatsWithinGroups(docs, lit(0L), minLen = 10).collect()
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      out
    } finally {
      System.setErr(stderr)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(counters.get("graft.longrepeats.capped_runs").contains(1L), counters)
    assert(counters.get("graft.longrepeats.oversized_docs").contains(1L), counters)
    val warned = err.toString("UTF-8")
    assert(warned.contains("1 suffix-array lcp run(s) exceeded RUN_CAP"), warned)
    assert(warned.contains("1 doc(s) of"), warned)
    // the skipped doc emits nothing; the capped doc still emits sound stars
    assert(got.nonEmpty && got.forall(r => r.getLong(0) == 0L && r.getLong(1) == 0L))
  }

  // the 20-doc planted-repeat corpus of the winnowing-guarantee spec
  private def plantedDocs = {
    val rnd = new scala.util.Random(99)
    def words(n: Int, tag: String) = (0 until n).map(_ => tag + rnd.nextInt(100000)).mkString(" ")
    val planted = "z z z shared segment marker " + ("k9 " * 12)
    mkDocs((0L until 20L).map { i =>
      i -> (words(30, s"u${i}w") + " " + planted + " " + words(30, s"v${i}w"))
    }: _*)
  }

  test("job bound: repeats runs <= 6 jobs, counting the caller's count()") {
    val docs = plantedDocs.localCheckpoint(true)
    val (n, jobs) = withJobs(LongRepeats.repeats(docs, 24, 12, maxBucket = 64).count())
    assert(n >= 190, s"$n spans")
    assert(jobs <= 6, s"repeats ran $jobs jobs")
  }

  test("job bound: repeatsWithinGroups runs <= 4 jobs, counting the caller's count()") {
    val docs = plantedDocs.localCheckpoint(true)
    val (n, jobs) = withJobs(
      LongRepeats.repeatsWithinGroups(docs, (col("doc_id") / 4).cast("long"), minLen = 35).count())
    assert(n > 0, s"$n spans")
    assert(jobs <= 4, s"repeatsWithinGroups ran $jobs jobs")
  }

  test("decontamination: planted probes found at exact offsets, absent probes excluded") {
    import spark.implicits._
    val probe1 = "the held out evaluation answer string planted verbatim here ok" // 63 chars
    val probe2 = "another benchmark probe text that appears in several documents!"
    val absent = "this probe string never occurs anywhere in the corpus at all!!!"
    assert(Seq(probe1, probe2, absent).forall(p => p.length >= 35 && p == p.toLowerCase))
    val docs = mkDocs(
      0L -> (filler1 + probe1 + " tail"),
      1L -> (filler2 + probe2),
      2L -> (probe2 + " " + filler1 + probe1), // probe at doc START + second probe
      3L -> ("entirely clean document with no planted material whatsoever " + filler2))
    val probes = Seq((10L, probe1), (11L, probe2), (12L, absent))
      .toDF("probe_id", "probe")
    val got = graft.text.Decontaminate.matches(docs, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val expected = Map(
      (0L, 10L) -> filler1.length,
      (2L, 10L) -> (probe2.length + 1 + filler1.length),
      (1L, 11L) -> filler2.length,
      (2L, 11L) -> 0)
    assert(got == expected, s"got $got")
    // first-occurrence semantics: a doc containing the probe TWICE reports
    // the earlier offset
    val twice = mkDocs(7L -> (probe1 + " middle " + probe1))
    val g2 = graft.text.Decontaminate.matches(twice, probes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(g2 == Map((7L, 10L) -> 0), s"got $g2")
    // a shared pre-materialized corpus fingerprint frame (the session-cache
    // path the driver query runs) yields identical matches
    import org.apache.spark.sql.functions.{col, lower}
    val fps = LongRepeats.winnowFingerprints(
      docs.select(col("doc_id"), lower(col("text")).as("t")), 24, 12)
      .localCheckpoint(true)
    val viaFps = graft.text.Decontaminate.matches(docs, probes,
        precomputedDocFps = Some(fps))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(viaFps == expected, s"got $viaFps")
  }

  test("decontamination: probes below gram+window-1 are rejected loudly, not silently missed") {
    import spark.implicits._
    val docs = mkDocs(0L -> filler1)
    val shortProbe = Seq((1L, "way too short")).toDF("probe_id", "probe")
    val e = intercept[IllegalArgumentException] {
      graft.text.Decontaminate.matches(docs, shortProbe)
    }
    assert(e.getMessage.contains("gram+window-1"))
  }

  test("in-doc repeats are reported once with distinct positions") {
    val block = "repeated internal template block number " + ("x7 " * 10)
    val docs = mkDocs(5L -> (filler1 + block + filler2 + block + " tail"))
    val got = LongRepeats.repeats(docs, gram = 24, window = 12).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 5L && r.getLong(1) == 5L)
    assert(r.getInt(2) != r.getInt(3))
  }
}
