package graft

import graft.dedup._
import graft.pages.PagesGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = DedupConfig() // k=5, 128 perms, 32×4 bands, τ=0.7, seed 42

  test("pages generator is deterministic and preserves per-url text invariant") {
    val a = PagesGen.pages(spark, 200, seed = 42L).collect().sortBy(_.getLong(5))
    val b = PagesGen.pages(spark, 200, seed = 42L, partitions = 7).collect().sortBy(_.getLong(5))
    assert(a.length == 200)
    // byte-identical text per url across re-runs and partitionings (input_hint)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getString(0) == y.getString(0)) // url
      assert(x.getString(3) == y.getString(3)) // text
    }
    // duplicate modes all present
    val modes = PagesGen.pagesWithTruth(spark, 400, 42L).collect().map(_.mode).toSet
    assert(Set("unique", "exact", "near", "swap", "boiler", "zero").subsetOf(modes))
  }

  test("near-dup pipeline: recall >= 0.99 and cluster match vs serial oracle") {
    val n = 800L
    val docsDF = PagesGen.pages(spark, n, seed = 42L, partitions = 8)
      .select(col("doc_id"), col("text"))
      .persist()
    val local = docsDF.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val res = NearDupPipeline.run(spark, docsDF, cfg)
    val assign = res.assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // serial oracle at identical config
    val oraclePairs = SerialOracle.truePairs(local, cfg)
    val oracleClusters = SerialOracle.clusters(local.map(_._1), oraclePairs)

    // pair recall via cluster closure (a true pair is detected iff co-clustered)
    val detected = oraclePairs.count { case (a, b) => assign(a) == assign(b) }
    val recall = if (oraclePairs.isEmpty) 1.0 else detected.toDouble / oraclePairs.size
    assert(oraclePairs.nonEmpty, "fixture must contain true dup pairs")
    assert(recall >= 0.99, s"recall $recall over ${oraclePairs.size} true pairs")

    // verified pairs are exact — precision of emitted pairs is 1 by construction
    val emitted = res.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = local.toMap
    emitted.foreach { case (a, b) =>
      val j = graft.functions.Impl.jaccardArr(
        SerialOracle.shingleSet(sets(a), cfg.shingleK),
        SerialOracle.shingleSet(sets(b), cfg.shingleK))
      assert(j >= cfg.tau, s"emitted pair ($a,$b) has J=$j < τ")
    }

    // cluster assignments match the oracle's (min-id representative)
    val mismatch = assign.count { case (id, c) => oracleClusters(id) != c }
    assert(mismatch <= (0.01 * n).toInt, s"$mismatch/$n cluster assignments differ")

    docsDF.unpersist()
  }

  test("skew: a 5k near-duplicate flood flows through star edges into ONE cluster") {
    // A boilerplate-style flood: 5000 near-copies (each with a few seeded
    // word substitutions, so exact collapse does NOT remove them) on top of
    // a normal corpus. Every LSH/SimHash bucket they share blows far past
    // maxBucket=64, so candidate generation runs the hot-key star path —
    // this asserts the END-TO-END behavior: bounded work AND preserved
    // connectivity (one cluster), the skew guarantee the engine claims at
    // web scale.
    import spark.implicits._
    val normal = PagesGen.pages(spark, 500, 42L, 8).select("doc_id", "text")
    val baseWords = PagesGen.genText(42L, 0L)._1.split(" ")
    val flood = spark.range(10000, 15000).map { id =>
      val w = baseWords.clone()
      // deterministic ~1% substitutions, different per doc
      var i = (id % w.length).toInt
      var k = 0
      while (k < math.max(1, w.length / 100)) {
        w(i) = "flood" + id + "x" + k
        i = (i + 37) % w.length
        k += 1
      }
      (id, w.mkString(" "))
    }.toDF("doc_id", "text")
    val docs = normal.unionByName(flood).persist()
    val res = NearDupPipeline.run(spark, docs, cfg)
    val assign = res.assignments.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign.size == 5500)
    // the flood (plus its base, doc 0) coalesces into exactly one cluster
    val floodClusters = (10000L until 15000L).map(assign).toSet
    assert(floodClusters.size == 1, s"flood split into ${floodClusters.size} clusters")
    assert(assign(0L) == floodClusters.head, "base doc must join its flood cluster")
    docs.unpersist()
  }

  test("exact dedup elects min doc_id and collapses groups") {
    import spark.implicits._
    val df = Seq(
      (10L, "Hello  World"), (3L, "hello world"), (7L, "unrelated text here"),
      (5L, "HELLO WORLD")
    ).toDF("doc_id", "text")
    val a = ExactDedup.assignments(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toMap
    // normalization: case + whitespace-insensitive
    assert(a == Map(10L -> 3L, 3L -> 3L, 5L -> 3L, 7L -> 7L))
  }

  test("simhash hamming pass surfaces near pairs missed shape (smoke)") {
    import spark.implicits._
    val base = (0 until 400).map(i => s"tok${i % 120}").mkString(" ")
    val near = base.replace("tok3 ", "tok999 ")
    val far = (0 until 400).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = SimHashDedup.candidatePairs(SimHashDedup.fingerprints(df), cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
