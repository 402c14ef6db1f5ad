package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Two-parallelism scaling evidence (north_rule: N vs 4N executors; sandbox
  * stand-in is local[8] vs local[32] on the SAME deterministic input —
  * BASELINE.json adaptation). Prints one JSON line with both throughputs and
  * the strong-scaling efficiency eff = (T_8 / T_32) / 4.
  *
  * Each run also reports per-stage aggregate task metrics from a
  * SparkListener (executor run/CPU/GC time, task and stage counts): wall
  * clock on this host swings 1.5–3× between identical runs (BASELINE.md),
  * so the parallel-work scaling argument is made from task-time sums —
  * Σcpu constant across core counts ⇒ the engine adds no work with
  * parallelism; wall − Σrun/cores ⇒ the core-count-independent latency.
  */
object ScalingBench {

  /** Aggregate task metrics over all completed stages of one run. */
  final class StageMetricsListener extends SparkListener {
    val runTimeMs = new java.util.concurrent.atomic.AtomicLong
    val cpuTimeNs = new java.util.concurrent.atomic.AtomicLong
    val gcTimeMs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val stageSpanMs = new java.util.concurrent.atomic.AtomicLong
    /** per stage-name (callsite, stable across runs) run/cpu sums */
    val byName = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      runTimeMs.addAndGet(m.executorRunTime)
      cpuTimeNs.addAndGet(m.executorCpuTime)
      gcTimeMs.addAndGet(m.jvmGCTime)
      tasks.addAndGet(sc.stageInfo.numTasks)
      stages.incrementAndGet()
      for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
        stageSpanMs.addAndGet(c - s)
      byName.merge(sc.stageInfo.name, (m.executorRunTime, m.executorCpuTime / 1000000),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }

  case class RunResult(cores: Int, docs: Long, pipelineSec: Double,
                       runTimeMs: Long, cpuTimeMs: Long, gcTimeMs: Long,
                       tasks: Long, stages: Long, stageSpanMs: Long,
                       byName: Map[String, (Long, Long)] = Map.empty) {
    def docsPerSec: Double = docs / pipelineSec
    def json: String =
      s"""{"cores":$cores,"sec":$pipelineSec,"docs_per_sec":$docsPerSec,
         |"task_run_ms":$runTimeMs,"task_cpu_ms":$cpuTimeMs,"gc_ms":$gcTimeMs,
         |"tasks":$tasks,"stages":$stages,"stage_span_ms":$stageSpanMs}"""
        .stripMargin.replace("\n", "")
  }

  def runAt(cores: Int, nDocs: Long): RunResult =
    runAtMaster(s"local[$cores]", cores, nDocs)

  /** Run the pipeline once under an arbitrary master. `local-cluster[n,c,mem]`
    * gives n SEPARATE executor JVMs with private heaps — the direct test of
    * the "local-mode wall-efficiency ceiling is the shared heap/allocator"
    * attribution (multi-executor evidence without a real cluster). Executor
    * processes are launched through $SPARK_HOME; they need the compiled
    * classes on their classpath and an explicit executor memory matching the
    * worker grant (the 1g default would ignore the worker size).
    */
  def runAtMaster(master: String, cores: Int, nDocs: Long): RunResult = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val builder = GraftSession.builder(master, shufflePartitions = cores)
    if (master.startsWith("local-cluster")) {
      val memMb = "local-cluster\\[\\s*\\d+\\s*,\\s*\\d+\\s*,\\s*(\\d+)\\s*\\]".r
        .findFirstMatchIn(master).map(_.group(1).toInt)
        .getOrElse(sys.error(s"unparseable local-cluster master: $master"))
      builder
        .config("spark.executor.memory", s"${memMb}m")
        .config("spark.executor.extraClassPath",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    }
    // experiment hook: arbitrary configs "k=v;k2=v2" (e.g. shuffle
    // compression off for single-host loopback cluster runs, or
    // spark.sql.adaptive.enabled=false for replan-latency experiments)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val corpus = graft.pages.PagesGen.pages(spark, nDocs, 42L, cores * 2)
        .select("doc_id", "text") // columns the pipeline reads
        .persist(StorageLevel.MEMORY_AND_DISK)
      corpus.count() // generation excluded from the timed section
      val listener = new StageMetricsListener
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val res = graft.dedup.NearDupPipeline.run(spark, corpus, graft.dedup.DedupConfig())
      res.assignments.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain queued listener events before reading the sums
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      corpus.unpersist()
      import scala.jdk.CollectionConverters._
      RunResult(cores, nDocs, sec, listener.runTimeMs.get, listener.cpuTimeNs.get / 1000000,
        listener.gcTimeMs.get, listener.tasks.get, listener.stages.get,
        listener.stageSpanMs.get, listener.byName.asScala.toMap)
    } finally spark.stop()
  }

  /** No args: both levels in one JVM (convenience). With a cores arg: ONE
    * measurement per JVM — the clean methodology (no heap/GC carry-over
    * between the two runs); a wrapper combines the two JSON lines.
    */
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "100000").toLong
    if (args.nonEmpty) {
      // one measurement per JVM; the arg is either a core count (local[k])
      // or a full master string (e.g. local-cluster[4,8,4096])
      val master = scala.util.Try(args(0).toInt).toOption
        .map(k => s"local[$k]").getOrElse(args(0))
      val cores = "local-cluster\\[\\s*(\\d+)\\s*,\\s*(\\d+)".r
        .findFirstMatchIn(master)
        .map(m => m.group(1).toInt * m.group(2).toInt)
        .orElse("local\\[(\\d+)\\]".r.findFirstMatchIn(master).map(_.group(1).toInt))
        .getOrElse(Runtime.getRuntime.availableProcessors())
      val r = runAtMaster(master, cores, nDocs)
      println(s"""{"metric":"pipeline_run","docs":$nDocs,"master":"$master","run":${r.json}}""")
      println("[stages] stage | run_ms cpu_ms")
      for ((n, (run, cpu)) <- r.byName.toSeq.sortBy(-_._2._2))
        println(s"[stages] $n | $run $cpu")
    } else {
      // alternate levels, best-of-N per level: robust to host noise (GC,
      // page-cache, co-tenant IO); minimum is the standard wall-clock
      // estimator on shared machines
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
      val runs = (0 until reps).flatMap { _ =>
        val a = runAt(8, nDocs); System.gc()
        val b = runAt(32, nDocs); System.gc()
        Seq(a, b)
      }
      val lo = runs.filter(_.cores == 8).minBy(_.pipelineSec)
      val hi = runs.filter(_.cores == 32).minBy(_.pipelineSec)
      val eff = (lo.pipelineSec / hi.pipelineSec) / 4.0
      println(
        s"""{"metric":"scaling_efficiency","value":$eff,"unit":"fraction",
           |"docs":$nDocs,"reps":$reps,
           |"run_low":${lo.json},
           |"run_high":${hi.json},
           |"all_runs":[${runs.map(_.json).mkString(",")}],
           |"speedup":${lo.pipelineSec / hi.pipelineSec}}""".stripMargin.replace("\n", ""))
      // per-stage 8-vs-32 task-time table (best runs): uniform inflation
      // across all stages = shared-memory hardware effect, not a serial
      // bottleneck in the plan
      val names = (lo.byName.keySet ++ hi.byName.keySet).toSeq
        .sortBy(n => -hi.byName.getOrElse(n, (0L, 0L))._1)
      println("[stage-scaling] stage | run8_ms cpu8_ms | run32_ms cpu32_ms | cpu32/cpu8")
      for (n <- names) {
        val (r8, c8) = lo.byName.getOrElse(n, (0L, 0L))
        val (r32, c32) = hi.byName.getOrElse(n, (0L, 0L))
        val infl = if (c8 > 0) f"${c32.toDouble / c8}%.2f" else "-"
        println(s"[stage-scaling] $n | $r8 $c8 | $r32 $c32 | $infl")
      }
    }
  }
}
