package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Benchmark driver: one workload, one seed, one process, one
  * `local[<cores>]` session calling the product's public Scala API.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Prints one `PERFBENCH_RECORD {...}` line (host, JVM and Spark settings,
  * timer samples) and, last, one `PERFBENCH_RESULT {...}` line with
  * `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {

  private final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("out")))
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def loadavg1(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(Double.NaN)

  /** (steal, total) CPU jiffies of the host so far, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    }.getOrElse((0L, 0L))

  private def vmHwmMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Inputs of one workload run: page corpora or checkpoint buffers. */
  final class Inputs(val corpora: Seq[Corpus], val buffers: Array[String]) {
    def release(): Unit = corpora.foreach(_.release())
  }

  /** A workload's input maker (seed, sizes) and its pass over those inputs. */
  def plan(ops: Ops, wl: Workload): ((Long, Sizes) => Inputs, (Inputs, Sizes) => Unit) =
    wl.name match {
      case "web_pages" => (
        (seed, s) => new Inputs(Seq(ops.corpus(seed, s.docs + (s.snapshots - 1) * s.snapStep),
          ops.corpus(seed, s.repeatDocs)), Array.empty),
        (in, s) => { ops.nearDup(in.corpora(0)); ops.longRepeats(in.corpora(1)); ops.snapshotChain(in.corpora(0), s) })
      case "checkpoint_chain" => (
        (seed, s) => new Inputs(Nil, ops.buffers(seed, s)),
        (in, s) => ops.checkpointChain(in.buffers, s))
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg1()
    val cpu0 = cpuJiffies()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.get(s"local[$cores]", math.max(cores, 8))
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val ops = new Ops(spark, wl, Paths.get(GraftSession.scratchRoot, "perfbench"))

    val warmSeed = a.seed * 1000003L + 7919L
    // the workload's inputs for a seed and sizes, and one pass of its operations
    val (makeInputs, pass) = Main.plan(ops, wl)

    // ---- set-up: a warm-up pass on inputs of another seed, then the timed
    // inputs, generated and materialized three times (the last set is kept);
    // once in a traced run, which does not report setup_s
    val w0 = System.nanoTime()
    val warmInputs = makeInputs(warmSeed, wl.warm)
    pass(warmInputs, wl.warm)
    warmInputs.release()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val inputRounds = (0 until (if (a.trace) 1 else 3)).map { r =>
      val t0 = System.nanoTime()
      val in = makeInputs(a.seed, wl.timed)
      (in, (System.nanoTime() - t0) / 1e9)
    }
    inputRounds.init.foreach(_._1.release())
    val inputs = inputRounds.last._1
    val inputS = median(inputRounds.map(_._2))
    val setupS = sessionS + warmupS + inputS

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        // whole passes while the next one is expected to end within --seconds
        ops.timing = true
        val t0 = System.nanoTime()
        var passes = 0
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (passes == 0 || elapsed * (passes + 1) / passes <= a.seconds) {
          pass(inputs, wl.timed)
          passes += 1
        }
        ops.timing = false
        // every workload reports the same metrics (README.md, "End-to-end
        // metrics"); a run whose operations failed may give NaN: reported
        // as 0 with correct = false
        Seq(("setup_s", setupS, "s"), ("peak_rss_mb", vmHwmMb(), "MB"),
          ("input_mb_per_s", ops.workMb / ops.workS, "MB/s"),
          ("stored_bytes_ratio", ops.storedBytesRatio, "ratio"))
      } else {
        // the same pass untraced, then traced: the difference is the
        // tracing overhead (spans, listener, per-layer materialization)
        val u0 = System.nanoTime()
        pass(inputs, wl.timed)
        val untracedS = (System.nanoTime() - u0) / 1e9
        val tracer = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
        ops.tracer = Some(tracer)
        val gc0 = gcSeconds()
        val tr0 = System.nanoTime()
        pass(inputs, wl.timed)
        val tracedS = (System.nanoTime() - tr0) / 1e9
        val gcS = gcSeconds() - gc0
        ops.tracer = None
        tracer.drain()
        tracer.writeJsonLines(a.out.resolve(s"spans-${tracer.runId}.jsonl"))
        Layers.metrics(tracer, tracedS) ++ Seq(
          ("run.gc_s", gcS, "s"),
          ("run.untraced_wall_s", untracedS, "s"),
          ("run.traced_wall_s", tracedS, "s"),
          ("run.trace_overhead_s", tracedS - untracedS, "s"))
      }

    val load1 = loadavg1()
    val cpu1 = cpuJiffies()
    // share of CPU time the hypervisor gave to other guests during the run
    val stealShare = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> cores.toString,
      "loadavg_1m_start" -> Json.num(load0), "loadavg_1m_end" -> Json.num(load1),
      "cpu_steal_share" -> Json.num(stealShare),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(Json.str).mkString("[", ", ", "]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_master" -> Json.str(spark.sparkContext.master),
      "spark_conf" -> Json.obj(conf.toSeq),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmupS),
      "input_rounds_s" -> inputRounds.map(r => Json.num(r._2)).mkString("[", ", ", "]"),
      "work_mb" -> Json.num(ops.workMb), "work_s" -> Json.num(ops.workS),
      "samples" -> Json.obj(ops.samples.toSeq.map { case (k, v) => k -> v.map(Json.num).mkString("[", ", ", "]") }),
      "recalls" -> ops.recalls.distinct.map(Json.num).mkString("[", ", ", "]"),
      "deterministic" -> (if (a.trace) Layers.deterministic else Nil).map(Json.str).mkString("[", ", ", "]")))
    Files.createDirectories(a.out)
    Files.write(a.out.resolve(s"record-${a.workload}-${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json"),
      record.getBytes("UTF-8"))
    println("PERFBENCH_RECORD " + record)

    val bad = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }
    bad.foreach { case (n, _, _) => System.err.println(s"[perfbench] metric $n has no value") }
    val result = Json.obj(Seq(
      "correct" -> (ops.failed == 0 && bad.isEmpty).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v),
          "unit" -> Json.str(u))) })))
    spark.stop()
    println("PERFBENCH_RESULT " + result)
    System.out.flush()
    sys.exit(0)
  }
}
