package perfbench

import java.nio.file.Paths

import graft.GraftSession

/** Runs one small warm-up pass of every workload and exits. `run.py` runs it
  * once per build with `-XX:ArchiveClassesAtExit`, so the class-data archive
  * the timed runs map holds every class they load, and no timed run pays for
  * writing it. */
object Archive {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.get(s"local[$cores]", math.max(cores, 8))
    for (wl <- Workloads.all) {
      val ops = new Ops(spark, wl, Paths.get(GraftSession.scratchRoot, "perfbench"))
      val (makeInputs, pass) = Main.plan(ops, wl)
      val s = wl.warm.copy(docs = math.min(wl.warm.docs, 300), repeatDocs = math.min(wl.warm.repeatDocs, 100))
      val in = makeInputs(1L, s)
      pass(in, s)
      in.release()
    }
    spark.stop()
    sys.exit(0)
  }
}
