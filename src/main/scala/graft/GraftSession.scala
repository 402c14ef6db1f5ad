package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory: one place that wires GraftExtensions + the configs that
  * matter at scale (AQE, skew-join handling, shuffle partition sizing).
  * `parallelism` stands in for executor count in this sandbox (local[N]).
  */
object GraftSession {

  /** Scratch root for ALL engine temp IO — shuffle spill (spark.local.dir),
    * streaming state-store checkpoints, temp SnapshotStore roots. On this
    * host it defaults to the 126 GiB tmpfs at /dev/shm: every bench-window
    * query that blew up 3–6× under co-tenant load was fsync/IO-bound on the
    * disk-backed /tmp (r5 driver window: stream dedup 1.6→9.2 s, incremental
    * 16→42.7 s with identical code), and scratch data is by definition
    * re-derivable — RAM-backed is the correct tier for it. On a real
    * cluster this maps to local NVMe/ramdisk per executor, configured the
    * same way. Overridable via SPARK_GRAFT_SCRATCH (a disk-backed dir for a
    * disk-vs-tmpfs A/B, or a per-run dir).
    * The DuckDB oracle dump stays at /tmp/graft_oracle — driver contract,
    * not scratch.
    */
  lazy val scratchRoot: String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        "/dev/shm/graft_scratch"
      else sys.props("java.io.tmpdir") + "/graft_scratch")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    root
  }

  /** A fresh private dir under the scratch root (tmpfs-backed temp dir). */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchRoot), prefix).toString

  /** Recursively delete a dir UNDER the scratch root (no-op otherwise — a
    * caller bug can then never rm -rf an arbitrary path).
    */
  def dropScratch(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
    if (!p.startsWith(java.nio.file.Paths.get(scratchRoot))) return
    if (!java.nio.file.Files.exists(p)) return
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder = {
    val localDir = scratchRoot + "/spark_local"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    SparkSession.builder()
      .master(master)
      .appName("graft-dedup")
      .withExtensions(new org.apache.spark.sql.graftx.GraftExtensions)
      // shuffle/spill/broadcast scratch on the RAM-backed root (see
      // scratchRoot scaladoc); Spark's shutdown hook removes the per-app
      // subdir on normal exit
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // several shuffle stages here are byte-small but CPU-dense (bucket →
      // pair generation, band grouping); default 1 MB min-partition coalesces
      // them to a handful of tasks and serializes the stage — keep enough
      // partitions for the cores instead
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  def get(master: String, shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Table loader for the driver-provided testdata directory — memoized per
    * (session, path): `spark.read.parquet` fires a schema-inference job at
    * CALL time, so a 46-query bench session re-reading `documents.parquet`
    * from dozens of query bodies would pay dozens of tiny driver jobs for
    * the same immutable file (pure scheduling latency under load; the
    * incremental path's per-snapshot job sites showed it for the snapshot
    * store). The memo holds analyzed logical plans only — no pinned blocks,
    * a few KB per (session, table).
    */
  private val tableCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** Memoized immutable-path parquet read (see [[table]]). Only for paths
    * whose contents never change within a session (testdata, oracle dumps).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    tableCache.getOrElseUpdate((spark, path), spark.read.parquet(path))

  /** Evict a session's memoized table reads (ADVICE r6: the memo is
    * never otherwise evicted, so a long-lived service session accumulates
    * stopped sessions' analyzed plans for process lifetime). Called from
    * SparkEntry.releaseSessionCaches.
    */
  def releaseTables(spark: SparkSession): Unit =
    tableCache.keySet.filter(_._1 eq spark).foreach(tableCache.remove)
}
