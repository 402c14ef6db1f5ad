package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that keep the engine fast at
  * 100 TB must hold structurally, not accidentally — assert them.
  */
class PlanQualitySpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // run so AQE finalizes
    df.queryExecution.executedPlan
  }

  test("parquet scan: filters push down and columns prune") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id"), length(col("text")).as("l"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$scan")
    // html/source/n_chars never read
    assert(scan.contains("ReadSchema") && !scan.contains("n_chars"),
      s"columns not pruned:\n$scan")
  }

  // descend through AQE wrappers — AdaptiveSparkPlanExec and QueryStageExec
  // hold their subtree in a field, not in `children`, so a bare collect
  // sees none of the physical tree
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  test("exact-top-k: query side broadcasts (corpus never shuffles)") {
    // gate the library operator directly — the driver query now serves a
    // session-memoized localCheckpoint of this exact plan (SparkEntry
    // exactTopKFrame), whose replay is a Scan ExistingRDD
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = executed(graft.sim.Ann.exactTopK(e, 0L until 20L, 5))
    val broadcasts = flatten(plan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.toString
    }
    assert(broadcasts.nonEmpty, s"no broadcast exchange in:\n$plan")
    // the broadcast subtree must be the 20-row QUERY side (vec_id IN 0..19
    // filter inside it), never the corpus — corpus-side broadcast OOMs the
    // driver at 100× scale
    broadcasts.foreach { sub =>
      assert(sub.contains("INSET") && sub.contains("vec_id"),
        s"broadcast side is not the filtered query side:\n$sub")
    }
  }

  test("graft expressions run inside WholeStageCodegen in the features plan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val feats = graft.dedup.MinHashLSH.featuresFused(docs, graft.dedup.DedupConfig())
    val wsc = feats.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, s"no codegen span:\n${feats.queryExecution.executedPlan}")
    val codegenStr = wsc.map(_.toString).mkString
    assert(codegenStr.contains("featurestruct"),
      "the fused shingle/minhash/simhash expression fell out of the codegen span")
  }

  test("prefix_scan: the full-table window is partitioned; only the tiny per-chunk total table may use a global window") {
    val plan = executed(SparkEntry.queries("prefix_scan")(spark, sfDir))
    val windows = flatten(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window exec in:\n$plan")
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "the per-chunk local scan must be a PARTITIONED window")
    // any partition-less window must sit above an aggregate (≤ parallelism
    // rows — the per-chunk totals), never over the raw table
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val belowAgg = flatten(w).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec])
      assert(belowAgg,
        s"single-partition window over a non-aggregated input (the canonical scale-killer):\n$w")
    }
  }

  test("query-restricted ANN: the qid filter sits below the re-rank window") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Ann.lshTopK(e, k = 5, bits = 4, tables = 4, seed = 7L,
      queryIds = 0L until 20L)
    val plan = executed(df)
    val windows = flatten(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window exec in:\n$plan")
    // the 20-query restriction must be INSIDE the top-k window's subtree
    // (pushed below the cosine re-rank joins) — a post-window filter would
    // mean the whole corpus was ranked first, the gate-scale scale-killer
    assert(windows.exists(w => flatten(w).drop(1).exists(
        _.toString.contains("INSET"))),
      s"qid INSET restriction not found below the window:\n$plan")
  }

  test("query-restricted IVF ANN: the qid restriction reaches the probe scan") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Ann.ivfTopK(e, k = 5, nCells = 4, nProbe = 2,
      queryIds = 0L until 20L)
    val plan = executed(df)
    // the Column-form isInCollection must survive as an INSET predicate
    // inside the probe side's subtree (the r4 typed-lambda filter was an
    // opaque function — no pushdown, whole-corpus probe generation)
    val windows = flatten(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"no window exec in:\n$plan")
    assert(windows.exists(w => flatten(w).drop(1).exists(
        _.toString.contains("INSET"))),
      s"qid INSET restriction not found below the IVF re-rank window:\n$plan")
    assert(!plan.toString.contains("filter(r ="),
      "typed lambda filter resurfaced in the IVF probe path")
  }

  test("exact dedup election is one shuffle over narrow rows") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.dedup.ExactDedup.assignments(docs)
      .queryExecution.executedPlan.toString
    // exactly one exchange (the window partitionBy) and no join
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }
}
