package graft

import graft.multimodal.Multimodal
import graft.pages.PagesGen
import graft.sim.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextMultimodalAnnSpec extends AnyFunSuite with SparkTestBase {

  test("langId: marker heuristic picks the dominant language deterministically") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is in the garden"),
      (2L, "der hund und die katze das ist nicht gut"),
      (3L, "le chat et la maison les deux est grande"),
      (4L, "xyzzy qwerty plugh")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("quality + tokenStats formulas are deterministic and sane") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox 123 jumps")).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df).collect().head
    assert(q.getLong(1) == 6) // tokens
    assert(q.getLong(4) == 3) // digits
    val t = TextAnalysis.tokenStats(df).collect().head
    assert(t.getLong(1) == 6 && t.getLong(3) == 6)
    assert(t.getLong(2) == math.ceil(29 / 4.0).toLong)
  }

  test("multimodal: stub decode has real schema, batch shape, determinism") {
    val pages = PagesGen.pages(spark, 200, 42L, partitions = 4)
    val media = Multimodal.mediaFromPages(pages)
    assert(media.schema.fieldNames.toSeq ==
      Seq("asset_id", "kind", "bytes", "meta"))
    val feats = Multimodal.decodeFeatures(media, batchSize = 32)
    val rows = feats.collect()
    assert(rows.length == 200)
    // batch shape observable: full batches of 32 within partitions
    val batchSizes = rows.map(_.getInt(7)).toSet
    assert(batchSizes.max <= 32 && batchSizes.min >= 1)
    assert(rows.count(_.getInt(7) == 32) > 0, "expected at least one full batch")
    // histogram is a real function of the bytes: 16 bins summing to byte count
    val r0 = rows.find(_.getLong(0) == 0L).get
    val bins = r0.getString(5).split(",")
    assert(bins.length == 16)
    val bytes0 = media.filter(col("asset_id") === 0L).collect().head.getAs[Array[Byte]]("bytes")
    assert(bins.map(_.toInt).sum == bytes0.length)
    // deterministic across runs
    val again = Multimodal.decodeFeatures(media, batchSize = 32).collect()
      .find(_.getLong(0) == 0L).get
    assert(again.getString(5) == r0.getString(5))
    // videos get frame samples, images/audio don't
    rows.foreach { r =>
      if (r.getString(1) == "video") assert(r.getInt(6) == 4) else assert(r.getInt(6) == 0)
    }
  }

  test("ANN: LSH top-k achieves high recall on planted near-duplicates") {
    import spark.implicits._
    // 100 base vectors + a noisy copy of each (cos ~ 0.99) + 200 distractors
    def unit(seed: Long, dim: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val dim = 64
    val rows = (0 until 100).flatMap { i =>
      val base = unit(1000 + i, dim)
      val noisy = base.zip(unit(5000 + i, dim)).map { case (b, n) => b + 0.1f * n }
      Seq((i.toLong, base), (100L + i, noisy))
    } ++ (0 until 200).map(i => (300L + i, unit(9000 + i, dim)))
    val emb = rows.toDF("vec_id", "embedding")

    val lsh = Ann.lshTopK(emb, k = 5, bits = 10, tables = 6, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // recall: base i should find its noisy twin 100+i
    val hits = (0 until 100).count { i =>
      lsh.get(i.toLong).exists(_.contains(100L + i))
    }
    assert(hits >= 85, s"LSH recall ${hits}/100")

    // exact brute force is the ground truth: twin is the #1 neighbor
    val exact = Ann.exactTopK(emb, Seq(0L, 1L, 2L), k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(0L -> 100L, 1L -> 101L, 2L -> 102L))

    // IVF scale path: near-identical twins quantize to the same cell in
    // almost all cases; probing 4 of 16 cells recovers the rest
    val ivf = Ann.ivfTopK(emb, k = 5, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivfHits = (0 until 100).count { i =>
      ivf.get(i.toLong).exists(_.contains(100L + i))
    }
    assert(ivfHits >= 90, s"IVF recall ${ivfHits}/100")

    // queryIds restriction == unrestricted-then-filtered, row for row: the
    // contract that lets the driver's recall gates FILTER the session's
    // memoized unrestricted top-k frames instead of re-building the
    // LSH buckets / IVF index (SparkEntry lshTopKFrame/ivfTopKFrame)
    def topkRows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nbr", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qids = 0L until 15L
    val lshRestricted = Ann.lshTopK(emb, k = 5, bits = 10, tables = 6,
      seed = 7L, queryIds = qids)
    val lshFiltered = Ann.lshTopK(emb, k = 5, bits = 10, tables = 6, seed = 7L)
      .filter(org.apache.spark.sql.functions.col("qid") < 15)
    assert(topkRows(lshRestricted) == topkRows(lshFiltered))
    val ivfRestricted = Ann.ivfTopK(emb, k = 5, nCells = 16, nProbe = 4,
      queryIds = qids)
    val ivfFiltered = Ann.ivfTopK(emb, k = 5, nCells = 16, nProbe = 4)
      .filter(org.apache.spark.sql.functions.col("qid") < 15)
    assert(topkRows(ivfRestricted) == topkRows(ivfFiltered))

    // the DISTRIBUTED quantizer-training branch (forced by the distributed
    // regime) produces the identical index: the 1e-4 centroid rounding
    // makes local and partial-agg float summation agree
    val ivfDistributed = withRegime("distributed")(
      Ann.ivfTopK(emb, k = 5, nCells = 16, nProbe = 4))
    val ivfLocal = Ann.ivfTopK(emb, k = 5, nCells = 16, nProbe = 4)
    assert(topkRows(ivfDistributed) == topkRows(ivfLocal))
  }

  test("ANN: SRP threshold-pair join (the benched emb_cosine_pairs scale path) — exact precision, high recall on planted twins") {
    import spark.implicits._
    def unit(seed: Long, dim: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val dim = 64
    val rows = (0 until 100).flatMap { i =>
      val base = unit(1000 + i, dim)
      val noisy = base.zip(unit(5000 + i, dim)).map { case (b, n) => b + 0.1f * n }
      Seq((i.toLong, base), (100L + i, noisy))
    } ++ (0 until 200).map(i => (300L + i, unit(9000 + i, dim)))
    val emb = rows.toDF("vec_id", "embedding")
    val tau = 0.9 // twins sit at cos≈0.995; random 64-dim pairs ≈ 0
    val pairs = graft.sim.Ann.srpThresholdPairs(emb, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision is exact BY CONSTRUCTION (every emitted pair passed the
    // exact cosine filter) — assert the invariant and the output contract
    pairs.foreach { case (a, b, sim) =>
      assert(a < b, s"pair order ($a,$b)")
      assert(sim >= tau, s"pair ($a,$b) sim=$sim below tau")
    }
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
    // recall: collision probability at cos≈0.995 is ~1 per table
    val found = pairs.map(p => (p._1, p._2)).toSet
    val hits = (0 until 100).count(i => found.contains((i.toLong, 100L + i)))
    assert(hits >= 95, s"SRP threshold-pair recall $hits/100")
    // no random pair sneaks past tau (distractors are near-orthogonal)
    assert(pairs.forall { case (a, b, _) => b - a == 100 && a < 100 },
      s"unexpected non-twin pair above tau: ${pairs.find { case (a, b, _) => b - a != 100 || a >= 100 }}")
  }
}
