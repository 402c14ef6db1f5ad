package graft

import graft.dedup.MinHashLSH
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded bucket-pair kernel is the skew guard every candidate source
  * shares — prove the hot-key path: a 10⁵-member key must complete with
  * star edges only (streaming pass), while small keys still get all pairs.
  */
class BoundedBucketSpec extends AnyFunSuite with SparkTestBase {

  test("100k-member hot key emits star edges; small buckets emit all pairs") {
    import spark.implicits._
    val n = 100000L
    val hot = spark.range(n).select(lit(7L).as("key"), col("id").as("e"))
    val small = Seq((8L, 1000001L), (8L, 1000002L), (8L, 1000003L),
      (9L, 2000001L)).toDF("key", "e") // key 9 is a singleton: no pairs
    val pairs = MinHashLSH.boundedBucketPairs(hot.union(small), Seq("key"),
      maxBucket = 64).collect()

    val hotPairs = pairs.filter(_.getLong(1) < 1000000L)
    // star: every hot member pairs with the min element (0), exactly once
    assert(hotPairs.length == n - 1)
    assert(hotPairs.forall(_.getLong(0) == 0L))
    assert(hotPairs.map(_.getLong(1)).toSet == (1L until n).toSet)
    // small bucket: full C(3,2) pair set, ordered p < q
    val smallPairs = pairs.filter(_.getLong(1) >= 1000000L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(smallPairs == Set((1000001L, 1000002L), (1000001L, 1000003L),
      (1000002L, 1000003L)))

    // the probe kernel streams the same flood: key 7 holds the 100k rows as
    // OLD plus 1,000 new arrivals above them, key 8 holds old rows only
    val arrivals = spark.range(n, n + 1000).select(lit(7L).as("key"), col("id").as("e"))
    val oldOnly = spark.range(3).select(lit(8L).as("key"), (col("id") + 2000000L).as("e"))
    val probe = MinHashLSH.boundedProbePairs(arrivals, hot.union(oldOnly), Seq("key"),
      maxBucket = 64).collect().map(r => (r.getLong(0), r.getLong(1)))
    // one star edge per new row, anchored at the old min (0); nothing from
    // the old-only key nor between two old rows
    assert(probe.length == 1000)
    assert(probe.forall(_._1 == 0L))
    assert(probe.map(_._2).toSet == (n until n + 1000).toSet)
  }

  test("randomized: bounded kernel matches a naive per-bucket reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 3) {
      val rows = (0 until 500)
        .map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(80).toLong)).distinct
      val cap = 1 + rnd.nextInt(10)
      val got = MinHashLSH.boundedBucketPairs(rows.toDF("key", "e"), Seq("key"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = rows.groupBy(_._1).values.flatMap { grp =>
        val ms = grp.map(_._2).sorted
        if (ms.length <= 1) Nil
        else if (ms.length <= cap)
          for (i <- ms.indices; j <- i + 1 until ms.length) yield (ms(i), ms(j))
        else ms.tail.map(y => (ms.head, y))
      }.toSet
      assert(got == naive, s"trial $trial cap $cap")
    }
    // struct elements (doc_id, pos), the two-column key (table, bucket),
    // null keys and null elements, at fixed caps
    for (trial <- 0 until 2; cap <- Seq(1, 2, 32, 1024)) {
      // hot (table, bucket) keys of up to ~1,500 rows next to tiny ones
      val rows = (0 until 3000).map { _ =>
        val hot = rnd.nextInt(4) == 0
        val table = if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(3).toLong)
        val bucket = if (rnd.nextInt(50) == 0) None
          else Some(if (hot) 0L else 1L + rnd.nextInt(400))
        // (doc_id, pos); None is a null element
        val e: Option[(Long, Int)] = if (rnd.nextInt(30) == 0) None
          else Some((rnd.nextInt(600).toLong, rnd.nextInt(3)))
        (table, bucket, e)
      }.distinct
      val df = rows.toDF("table", "bucket", "e0").select(col("table"), col("bucket"),
        when(col("e0").isNotNull,
          struct(col("e0._1").as("doc_id"), col("e0._2").as("pos"))).as("e"))
      val got = MinHashLSH.boundedBucketPairs(df, Seq("table", "bucket"), cap).collect()
        .map { r =>
          val (p, q) = (r.getStruct(0), r.getStruct(1))
          ((p.getLong(0), p.getInt(1)), (q.getLong(0), q.getInt(1)))
        }
      // naive model: rows with a null key or element are dropped; per key,
      // the bound counts rows; small keys emit every pair of the distinct
      // sorted member set, hot keys (min, e) stars
      val ord = Ordering.Tuple2[Long, Int]
      val naive = rows.filter(r => r._1.isDefined && r._2.isDefined && r._3.isDefined)
        .groupBy(r => (r._1, r._2)).values.toSeq.flatMap { grp =>
          val ms = grp.flatMap(_._3).distinct.sorted(ord)
          if (grp.length <= cap)
            for (i <- ms.indices; j <- i + 1 until ms.length) yield (ms(i), ms(j))
          else ms.drop(1).map(y => (ms.head, y))
        }
      assert(got.sortBy(_.toString).toSeq == naive.sortBy(_.toString),
        s"trial $trial cap $cap: ${got.length} pairs vs naive ${naive.length}")
    }
  }

  test("rows with a null key emit no pairs") {
    import spark.implicits._
    val rows = Seq[(Option[Long], Long)]((None, 1L), (None, 2L), (None, 3L),
      (Some(5L), 4L), (Some(5L), 6L)).toDF("key", "e")
    val pairs = MinHashLSH.boundedBucketPairs(rows, Seq("key"), maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 6L)))
  }

  test("randomized: bounded PROBE kernel matches a naive new-vs-all reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val norm = (ps: Seq[(Long, Long)]) => ps.map { case (p, q) => (math.min(p, q), math.max(p, q)) }
    // disjoint old/new element sets (the caller's contract: a content key
    // registers exactly once): every third element is new
    def check(all: Seq[(Long, Long)], cap: Int, what: String): Unit = {
      val newEls = all.map(_._2).distinct.filter(_ % 3 == 0).toSet
      val newRows = all.filter(r => newEls.contains(r._2))
      val oldRows = all.filterNot(r => newEls.contains(r._2))
      val gotRaw = norm(MinHashLSH.boundedProbePairs(
          newRows.toDF("key", "e"), oldRows.toDF("key", "e"), Seq("key"), cap)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
      // naive model: per key, small (≤ cap distinct members) buckets emit
      // every (new, other-member) pair; hot buckets emit (anchor, new) with
      // anchor = min old member if any, else min new. Pairs are oriented
      // (min, max), the form the caller consumes, and each unordered pair
      // counts once per key that yields it
      val naiveMulti = all.groupBy(_._1).values.toSeq.flatMap { grp =>
        val ms = grp.map(_._2).distinct
        val news = ms.filter(newEls.contains)
        val olds = ms.filterNot(newEls.contains)
        norm(if (ms.length <= cap)
          for (p <- news; q <- ms if p != q) yield (p, q)
        else {
          val anchor = if (olds.nonEmpty) olds.min else news.min
          news.filter(_ != anchor).map(q => (anchor, q))
        }).distinct
      }
      val naive = naiveMulti.toSet
      val got = gotRaw.toSet
      assert(got == naive, what)
      // as a multiset too: no key emits an unordered pair twice (distinct
      // keys may share a pair; the caller's distinct removes those)
      assert(gotRaw.sorted == naiveMulti.sorted, s"$what (repeats)")
      // every emitted pair touches a new element; no old-old pair ever
      // re-verifies (append-only disjointness)
      got.foreach { case (p, q) =>
        assert(newEls.contains(p) || newEls.contains(q), s"old-old pair ($p,$q)")
      }
      // the driver-LOCAL kernel (IncrementalDedup's small dispatch) matches
      // the distributed one on the same inputs
      val local = norm(MinHashLSH.boundedProbePairsLocalP(
        newRows.map(_._1).toArray, newRows.map(_._2).toArray,
        oldRows.map(_._1).toArray, oldRows.map(_._2).toArray, cap).toSeq).toSet
      assert(local == naive, s"$what (local kernel)")
      // and with old EMPTY it reproduces the batch bucket kernel's
      // candidate set up to orientation (the snap-0 dispatch path)
      val localAll = norm(MinHashLSH.boundedProbePairsLocalP(
          all.map(_._1).toArray, all.map(_._2).toArray, Array.empty, Array.empty, cap).toSeq).toSet
      val batch = norm(MinHashLSH.boundedBucketPairs(
          all.toDF("key", "e"), Seq("key"), cap)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))).toSet
      assert(localAll == batch, s"$what (snap0 orientation)")
    }
    for (trial <- 0 until 3) {
      val all = (0 until 400)
        .map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(120).toLong)).distinct
      val cap = 1 + rnd.nextInt(8)
      check(all, cap, s"trial $trial cap $cap")
    }
    // those keys hold ~26 members each, so every one is hot at caps ≤ 8:
    // 200 keys of ~2 members next to one key of ~150 reach the small path,
    // old-only keys and the mixed ones at fixed caps
    for (trial <- 0 until 2; cap <- Seq(1, 2, 32, 1024)) {
      val all = (0 until 600).map { _ =>
        (if (rnd.nextInt(4) == 0) 0L else 1L + rnd.nextInt(200), rnd.nextInt(300).toLong)
      }.distinct
      check(all, cap, s"small-key trial $trial cap $cap")
    }
  }

  test("plan shape: one hash exchange on the key columns, then a sort and a streaming scan (no window, no collect_set)") {
    val rows = spark.range(1000).select((col("id") % 10).as("table"),
      (col("id") % 7).as("bucket"), col("id").as("e"))
    def assertShape(plan: String, key: String): Unit = {
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length == 1, plan)
      assert(plan.contains(s"Exchange hashpartitioning($key#"), plan)
      assert(plan.contains(s"Sort [$key#"), plan)
      assert(plan.contains("MapPartitions"), plan)
      assert(!plan.contains("Window") && !plan.contains("collect_set") &&
        !plan.contains("HashAggregate") && !plan.contains("Generate"), plan)
    }
    assertShape(MinHashLSH.boundedBucketPairs(rows, Seq("table", "bucket"), maxBucket = 4)
      .queryExecution.executedPlan.toString, "table")
    // the incremental probe: old ∪ new take the same one exchange, and the
    // is_new flag sorts between the key and the element (old rows first)
    val keyed = spark.range(1000).select((col("id") % 7).as("key"), col("id").as("e"))
    val probe = MinHashLSH.boundedProbePairs(keyed.filter(col("e") >= 800),
      keyed.filter(col("e") < 800), Seq("key"), maxBucket = 4)
      .queryExecution.executedPlan.toString
    assertShape(probe, "key")
    assert("""Sort \[key#\d+L ASC NULLS FIRST, is_new#""".r.findFirstIn(probe).isDefined, probe)
  }
}
