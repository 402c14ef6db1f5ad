package graft

import graft.dedup.{ConnectedComponents, SerialOracle}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite with SparkTestBase {

  /** Runs BOTH execution paths (driver union-find and distributed star
    * rounds) and asserts they agree before returning the result.
    */
  private def runCC(edges: Seq[(Long, Long)], nodes: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("a", "b")
    val n = nodes.toDF("id")
    val local = ConnectedComponents.assignAll(spark, n, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withRegime("distributed")(ConnectedComponents.assignAll(spark, n, e).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, "local and distributed CC paths disagree")
    local
  }

  test("chain, two components, singletons") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L)
    val got = runCC(edges, nodes)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("long path (deep diameter) converges to min id") {
    val n = 60L
    val edges = (1L until n).map(i => (i, i + 1))
    val got = runCC(edges, (1L to n))
    assert(got.values.toSet == Set(1L))
  }

  test("random graphs match serial union-find") {
    val rnd = new scala.util.Random(4711)
    for (trial <- 0 until 3) {
      val nNodes = 80
      val ids = (0L until nNodes).toSeq
      val edges = (0 until 100).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter { case (a, b) => a != b }
      val expected = SerialOracle.clusters(ids, edges)
      val got = runCC(edges, ids)
      assert(got == expected, s"trial $trial")
    }
  }

  test("distributed star rounds match union-find on REAL pipeline edges (8k docs)") {
    // the bench-scale flagship short-circuits to driver union-find (edge
    // count under Regime.SMALL_GRAPH_MAX); this pins the distributed path against
    // the same real edge distribution (exact-dup stars + near-dup pairs)
    val docs = graft.pages.PagesGen.pages(spark, 8000, 42L, 8).select("doc_id", "text")
    val res = graft.dedup.NearDupPipeline.run(spark, docs, graft.dedup.DedupConfig())
    val edges = res.exactEdges.select("a", "b").union(res.pairs.select("a", "b"))
      .persist()
    val nodes = docs.select(col("doc_id").as("id"))
    val local = ConnectedComponents.assignAll(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withRegime("distributed")(ConnectedComponents.assignAll(spark, nodes, edges)
      .collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.size == 8000 && local == dist)
    edges.unpersist()
  }

  test("star rounds throw when maxIter ends unconverged") {
    import spark.implicits._
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](ConnectedComponents.run(spark, edges, maxIter = 1))
    assert(e.getMessage.contains("1 rounds") && e.getMessage.contains("19 edges"))
    val got = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 20L).map(_ -> 1L).toMap)
  }

  test("empty edge set → all singletons") {
    val got = runCC(Seq.empty, Seq(5L, 6L))
    assert(got == Map(5L -> 5L, 6L -> 6L))
  }
}
