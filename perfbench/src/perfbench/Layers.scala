package perfbench

/** The per-layer metrics of a traced run. */
object Layers {

  /** Layers (public calls) that get the seven standard counters. */
  val layers: Seq[String] = Seq(
    "ExactDedup.assignments",
    "MinHashLSH.featuresFused",
    "MinHashLSH.keys",
    "MinHashLSH.pairsFromKeyRows",
    "MinHashLSH.verifiedPairs",
    "ConnectedComponents.assignAll",
    "LongRepeats.winnowFingerprints",
    "LongRepeats.winnowCandidatesFromFps",
    "LongRepeats.verifyAndExtend",
    "LongRepeats.repeatsWithinGroups",
    "IncrementalDedup.processSnapshot",
    "ChunkDedup.Chain.checkpoint",
    "ChunkDedup.restartFromStore")

  /** Layer extras: (layer, counter, unit); ratios are computed from summed counters. */
  private val extras: Seq[(String, String, String)] = Seq(
    ("ExactDedup.assignments", "distinct_share", "share"),
    ("MinHashLSH.pairsFromKeyRows", "task_max_over_median", "ratio"),
    ("MinHashLSH.verifiedPairs", "verify_yield", "share"),
    ("LongRepeats.winnowCandidatesFromFps", "task_max_over_median", "ratio"),
    ("LongRepeats.verifyAndExtend", "repeats_yield", "share"),
    ("LongRepeats.repeatsWithinGroups", "task_max_over_median", "ratio"),
    ("IncrementalDedup.processSnapshot", "n_changed", "count"),
    ("IncrementalDedup.processSnapshot", "n_new_content", "count"),
    ("IncrementalDedup.processSnapshot", "n_edges", "count"),
    ("IncrementalDedup.processSnapshot", "fixed_share", "share"),
    ("SnapshotStore", "written_mb", "MB"),
    ("SnapshotStore", "compaction_rewritten_mb", "MB"),
    ("SnapshotStore", "read_count", "count"),
    ("ChunkDedup.Chain.checkpoint", "first_ocur_regions", "count"),
    ("ChunkDedup.Chain.checkpoint", "shift_dupl_regions", "count"),
    ("ChunkDedup.Chain.checkpoint", "committed_mb", "MB"),
    ("ChunkDedup.restartFromStore", "read_count", "count"))

  /** Repeated calls whose per-call job counts show the execution regime:
    * (metric prefix, layer, marker counter of the calls counted, None: every
    * call). A call that switched between the driver-local and the distributed
    * path would run a different number of jobs than its siblings, so `min`
    * and `max` of one prefix differ. */
  private val regimeCalls: Seq[(String, String, Option[String])] = Seq(
    ("IncrementalDedup.processSnapshot.plain_call", "IncrementalDedup.processSnapshot", Some("plain_call")),
    ("ChunkDedup.Chain.checkpoint.later_call", "ChunkDedup.Chain.checkpoint", Some("later_call")),
    ("ChunkDedup.restartFromStore.call", "ChunkDedup.restartFromStore", None))

  /** Regime metrics whose `min` must equal their `max` (`test_perfbench.py`).
    * Not the later checkpoints: their job count depends on which label kinds
    * a checkpoint holds and on adaptive query execution (see `deterministic`). */
  val oneRegime: Seq[String] = Seq("IncrementalDedup.processSnapshot.plain_call", "ChunkDedup.restartFromStore.call")

  /** Counters that repeat exactly across two traced runs of one seed. Not
    * `ChunkDedup.Chain.checkpoint.jobs`: adaptive query execution re-plans the
    * checkpoint's joins from runtime shuffle sizes, and two runs of one seed
    * differed by two jobs (the count repeats with adaptive execution off). */
  val deterministic: Seq[String] =
    layers.flatMap(l => Seq(s"$l.jobs", s"$l.rows_out")).filterNot(_ == "ChunkDedup.Chain.checkpoint.jobs") ++ Seq(
      "MinHashLSH.verifiedPairs.verify_yield",
      "LongRepeats.verifyAndExtend.repeats_yield",
      "ExactDedup.assignments.distinct_share",
      "IncrementalDedup.processSnapshot.n_changed",
      "IncrementalDedup.processSnapshot.n_new_content",
      "IncrementalDedup.processSnapshot.n_edges",
      "IncrementalDedup.processSnapshot.fixed_share",
      "SnapshotStore.read_count",
      "ChunkDedup.Chain.checkpoint.first_ocur_regions",
      "ChunkDedup.Chain.checkpoint.shift_dupl_regions",
      "ChunkDedup.restartFromStore.read_count") ++
      oneRegime.flatMap(p => Seq(s"$p.jobs_min", s"$p.jobs_max"))

  /** Per-layer metrics of a traced run: (name, value, unit). A layer's
    * counters sum over all its calls in the traced pass, whose wall time is
    * `passS`. Every workload reports every layer, and a layer it does not
    * call reads 0, so a layer's times are given as shares: of the pass's wall
    * time, and of the task CPU time of all the pass's spans. */
  def metrics(t: Tracer, passS: Double): Seq[(String, Double, String)] = {
    val byName = t.all.groupBy(_.name)
    def of(l: String) = byName.getOrElse(l, Nil)
    def sum(l: String, c: String) = of(l).map(_.counters.getOrElse(c, 0.0)).sum
    val cpuNs = math.max(1L, t.all.map(_.cpuNs).sum).toDouble
    val standard = layers.flatMap { l =>
      val ss = of(l)
      Seq(
        (s"$l.wall_share", ss.map(_.wallS).sum / passS, "share"),
        (s"$l.self_share", ss.map(t.selfS).sum / passS, "share"),
        (s"$l.jobs", ss.map(_.jobs).sum.toDouble, "count"),
        (s"$l.task_cpu_share", ss.map(_.cpuNs).sum / cpuNs, "share"),
        (s"$l.shuffle_write_mb", ss.map(_.shuffleWriteB).sum / 1e6, "MB"),
        (s"$l.spill_mb", ss.map(_.spillB).sum / 1e6, "MB"),
        (s"$l.rows_out", sum(l, "rows_out"), "count"))
    }
    val extra = extras.map { case (l, c, u) =>
      val v = c match {
        case "task_max_over_median" => t.skew(of(l))
        case "distinct_share" | "verify_yield" | "repeats_yield" =>
          // one call per traced pass: the ratio the call recorded
          of(l).flatMap(_.counters.get(c)).headOption.getOrElse(0.0)
        case "fixed_share" => sum(l, "fixed_pages") / math.max(1.0, sum(l, "pages"))
        case _ => sum(l, c)
      }
      (s"$l.$c", v, u)
    }
    val regime = regimeCalls.flatMap { case (prefix, l, marker) =>
      val jobs = of(l).filter(sp => marker.forall(sp.counters.contains)).map(_.jobs.toDouble)
      Seq((s"$prefix.jobs_min", if (jobs.isEmpty) 0.0 else jobs.min, "count"),
        (s"$prefix.jobs_max", if (jobs.isEmpty) 0.0 else jobs.max, "count"))
    }
    standard ++ extra ++ regime
  }
}
