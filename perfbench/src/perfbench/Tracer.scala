package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the product, plus a SparkListener
  * that attributes every job, stage and task to the span that launched it.
  *
  * Attribution key: before each call the span id is written into the Spark
  * job description ("perfbench#<id> <name>"); jobs carry it in their local
  * properties (broadcast and AQE stage jobs inherit them), and each stage of
  * the job maps back to the span. Everything stays in memory until
  * [[writeJsonLines]] at exit.
  */
final class Tracer(sc: SparkContext, val runId: String) {

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end: Long = 0L
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    // listener-side aggregates (written on the listener thread, read after drain)
    var jobs = 0
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    def wallS: Double = (end - start) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  /** per stage: run times of its tasks (ms), for the skew ratio */
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val Desc = """perfbench#(\d+) .*""".r

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      desc.collect { case Desc(id: String) => byId.get(id.toInt) }.filter(_ != null).foreach { (s: Span) =>
        s.synchronized { s.jobs += 1; s.stages += j.stageInfos.size }
        j.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(t.stageId)
      if (s != null && t.taskMetrics != null) {
        val m = t.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageTaskMs.computeIfAbsent(t.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized(stageTaskMs.get(t.stageId) += m.executorRunTime)
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`; nested spans record their parent. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    sc.setJobDescription(s"perfbench#${s.id} $name")
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setJobDescription(stack.headOption.map(p => s"perfbench#${p.id} ${p.name}").orNull)
    }
  }

  /** Add to a counter of the innermost open span. */
  def count(counter: String, v: Double): Unit = stack.headOption.foreach { s =>
    s.counters(counter) = s.counters.getOrElse(counter, 0.0) + v
  }

  /** Add to a counter of the latest span named `name` (for counts read after
    * the call returned, outside its span). */
  def countOn(name: String, counter: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach { s =>
      s.counters(counter) = s.counters.getOrElse(counter, 0.0) + v
    }

  def drain(): Unit = org.apache.spark.sql.graftx.Bridge.drainListenerBus(sc)

  def all: Seq[Span] = spans.toSeq

  /** Largest max/median task run-time ratio over the spans' stages with at
    * least four tasks (0 when there is no such stage). */
  def skew(ss: Seq[Span]): Double = {
    import scala.jdk.CollectionConverters._
    val ids = ss.map(_.id).toSet
    stageSpan.asScala.collect { case (st, sp) if ids(sp.id) => st }.flatMap { st =>
      Option(stageTaskMs.get(st)).map(b => b.synchronized(b.sorted.toArray))
    }.filter(_.length >= 4).map { ms =>
      ms.last.toDouble / math.max(1L, ms(ms.length / 2))
    }.foldLeft(0.0)((x, y) => math.max(x, y))
  }

  /** Self time: the span's wall time minus the part its children cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.counters.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"run_id": ${Json.str(runId)}, "span": ${s.id}, "name": ${Json.str(s.name)}, """ +
        s""""parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""jobs": ${s.jobs}, "stages": ${s.stages}, "tasks": ${s.tasks}, """ +
        s""""task_cpu_s": ${Json.num(s.cpuNs / 1e9)}, "gc_s": ${Json.num(s.gcMs / 1e3)}, """ +
        s""""shuffle_write_b": ${s.shuffleWriteB}, "spill_b": ${s.spillB}, "counters": {$c}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
