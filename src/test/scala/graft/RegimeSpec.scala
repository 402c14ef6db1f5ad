package graft

import java.nio.file.{Files, Paths}

import graft.dedup.{ChunkDedup, ConnectedComponents, DedupConfig, IncrementalDedup, TreeLowRoot}
import graft.sim.Ann
import graft.state.SnapshotStore
import org.scalatest.funsuite.AnyFunSuite

/** `spark.graft.regime` is the only switch between each site's driver path
  * and its distributed path. Each site is run under `auto` and under
  * `distributed` and identified by a signal it already exposes, so a site
  * that ignores the conf fails here rather than letting a parity spec
  * compare its driver path with itself.
  */
class RegimeSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def chunks(s: String) = ChunkDedup.chunkify(spark, s, 1)

  /** Parquet files a committed table snapshot holds. */
  private def parquetFiles(root: String, t: String, snap: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(Paths.get(root, t, s"snapshot=$snap"))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
    finally ls.close()
  }

  test("spark.graft.regime=distributed sends all six sites down their distributed path; a malformed value fails") {
    import spark.implicits._
    val steps = Seq("ABCDEFGH", "IJABCDEK")

    // ChunkDedup.Chain: the local sweep reports region sizes, the distributed
    // sweep none
    def chunkChain(regime: String) = withRegime(regime) {
      val store = new SnapshotStore(spark, tmp(s"graft_regime_chain_$regime"))
      val c = new ChunkDedup.Chain(spark, 8L, store = Some(store))
      (store, steps.map(s => c.checkpoint(chunks(s))))
    }
    val (store, localRs) = chunkChain("auto")
    val (_, distRs) = chunkChain("distributed")
    assert(localRs.forall(_.regionSizes.nonEmpty), "auto: no local-sweep checkpoint")
    assert(distRs.forall(_.regionSizes.isEmpty), "distributed: a local-sweep checkpoint")

    // ChunkDedup.restartFromStore: the Spark loop runs more jobs than the
    // driver walk, over the same store
    def restartJobs(regime: String) = withRegime(regime) {
      val (out, jobs) = withJobs(ChunkDedup.restartFromStore(spark, store, 1))
      assert(out.collect().sortBy(_.getLong(0)).map(_.getString(1)).mkString == steps(1))
      jobs
    }
    val (restartLocal, restartDist) = (restartJobs("auto"), restartJobs("distributed"))
    assert(restartDist > restartLocal, s"restart: $restartDist jobs vs $restartLocal")

    // TreeLowRoot.DistChain: the thin sweep runs more jobs than the serial core
    def lowRootJobs(regime: String) = {
      val c = withRegime(regime)(new TreeLowRoot.DistChain(spark, 8L))
      steps.map(s => withJobs(c.checkpoint(chunks(s)))._2).sum
    }
    val (lowRootLocal, lowRootDist) = (lowRootJobs("auto"), lowRootJobs("distributed"))
    assert(lowRootDist > lowRootLocal, s"low-root chain: $lowRootDist jobs vs $lowRootLocal")

    // ConnectedComponents.assignAll: the star rounds run more jobs than the
    // driver union-find, with the same clusters
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    def cc(regime: String) = withRegime(regime)(withJobs(
      ConnectedComponents.assignAll(spark, nodes, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap))
    val ((ccLocal, ccLocalJobs), (ccDist, ccDistJobs)) = (cc("auto"), cc("distributed"))
    assert(ccDist == ccLocal)
    assert(ccDistJobs > ccLocalJobs, s"assignAll: $ccDistJobs jobs vs $ccLocalJobs")

    // Ann.ivfTopK: distributed quantizer training runs an assign/mean job
    // per iteration
    val rnd = new scala.util.Random(3)
    val emb = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    def ivfJobs(regime: String) =
      withRegime(regime)(withJobs(Ann.ivfTopK(emb, k = 3, nCells = 4, nProbe = 2)))._2
    val (ivfLocal, ivfDist) = (ivfJobs("auto"), ivfJobs("distributed"))
    assert(ivfDist > ivfLocal, s"IVF training: $ivfDist jobs vs $ivfLocal")

    // IncrementalDedup.processSnapshot: the driver pass commits its stages
    // through the local writer, the distributed pass through Spark's
    def incFiles(regime: String) = withRegime(regime) {
      val root = tmp(s"graft_regime_inc_$regime")
      new IncrementalDedup(spark, new SnapshotStore(spark, root), DedupConfig())
        .processSnapshot(0, graft.pages.PagesGen.pages(spark, 60, 42L, 2)
          .select("url", "doc_id", "text"))
      Seq("pages_keyed", "content", "edges", "assignments").map(t => t -> parquetFiles(root, t, 0))
    }
    val local = "part-00000-local.parquet"
    assert(incFiles("auto").forall(_._2 == Seq(local)), "auto: no driver pass")
    for ((t, files) <- incFiles("distributed"))
      assert(!files.contains(local), s"distributed: $t committed by the driver pass")

    val e = intercept[IllegalArgumentException](
      withRegime("local")(new ChunkDedup.Chain(spark, 8L)))
    assert(e.getMessage == "spark.graft.regime=local: accepted values are auto and distributed")
  }
}
