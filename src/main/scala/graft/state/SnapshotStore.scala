package graft.state

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed versioned table store — the Iceberg stand-in (no Iceberg
  * jars ship in this sandbox; the layout mirrors Iceberg's snapshot dirs +
  * manifest commit so swapping `commit` to `writeTo(...).append()` is a
  * one-line change on a real cluster).
  *
  * Commit protocol (crash-safe): data lands in `<table>/snapshot=<id>.tmp`,
  * the `_MANIFEST.json` (row count + PER-PARTITION lineage + stage metadata,
  * per north_rule) is written INSIDE the tmp dir, then the dir is atomically
  * renamed. A reader only trusts dirs whose manifest exists ⇒ any stage is
  * resumable: rerunning a job skips every committed (table, snapshot) and
  * recomputes only what is missing — the reference's checkpoint-chain restart
  * contract (tree_approach.cpp:943) generalized to stages.
  *
  * Every manifest also carries a random `commit_id`, fresh at each commit:
  * a reader that folded a snapshot into memory can tell, with zero jobs,
  * whether the store still holds that very commit. Row counts cannot — a
  * recommit of different rows may keep every count.
  */
final class SnapshotStore(spark: SparkSession, root: String) {

  private def dir(table: String, snap: Int): Path =
    Paths.get(root, table, s"snapshot=$snap")
  private def manifest(table: String, snap: Int): Path =
    dir(table, snap).resolve("_MANIFEST.json")

  /** read() calls served by this instance — restart-pruning specs assert how
    * many committed snapshots a reconstruction actually touched.
    */
  private val nReads = new java.util.concurrent.atomic.AtomicInteger
  def readCount: Int = nReads.get

  def isCommitted(table: String, snap: Int): Boolean = Files.exists(manifest(table, snap))

  /** Target rows per committed file — sizes the optional pre-write
    * repartition (≈128 MB files for the narrow state rows at 100-TB scale).
    */
  private val targetRowsPerFile = 1L << 21
  private def fileCount(rows: Long): Int =
    math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt

  /** Write + commit one snapshot of a table. No-op if already committed.
    *
    * `approxRows`: caller's manifest-derived output-size estimate (an upper
    * bound is fine). When the implied file count is BELOW the session
    * parallelism, the write is preceded by one repartition(k) so a tiny
    * stage commits k files instead of one near-empty file per task
    * (pages_keyed at bench scale: 59 files × ~170 rows — 59 footer reads
    * per commit and 59-task downstream scans, pure latency). The
    * repartition exchange is only ever taken on provably small outputs; a
    * 100-TB stage's natural partitioning is never touched — no extra
    * shuffle on the scale path.
    */
  def commit(table: String, snap: Int, df0: DataFrame,
             meta: Map[String, String] = Map.empty,
             approxRows: Option[Long] = None): Unit = {
    if (isCommitted(table, snap)) return
    val df = approxRows match {
      case Some(r) =>
        val k = fileCount(r)
        if (k < spark.sparkContext.defaultParallelism) df0.repartition(k) else df0
      case None => df0
    }
    publish(table, snap, df.schema, meta) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
      // per-partition lineage of what was just written (parquet file =
      // partition) from the parquet FOOTERS — metadata-only, no re-scan of
      // the data pages (the previous read-back + groupBy(input_file_name)
      // re-read every committed byte once more)
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val listing = Files.list(tmp)
      val files =
        try listing.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .toArray.sortBy(_.toString)
        finally listing.close()
      // footer reads are independent per file — read them in parallel (a
      // 60-file commit costs one footer's latency, not sixty sequential
      // ones; order is restored by the files sort above)
      java.util.Arrays.stream(files).parallel().map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (p.getFileName.toString, r.getRecordCount) finally r.close()
      }.toArray(n => new Array[(String, Long)](n)).toSeq
    }
  }

  /** Driver-direct commit of a TINY frame whose rows already live on the
    * driver (1-row metrics, a local-regime edge list): zero Spark jobs —
    * the file is written through Spark's own ParquetWriteSupport
    * ([[org.apache.spark.sql.graftx.LocalParquet]]) and lands under the
    * identical crash-safe manifest + atomic-rename protocol as [[commit]],
    * so readers and resume cannot tell the two apart. Callers are the
    * small-dispatch sites only; every row set is bounded by construction.
    */
  def commitLocal(table: String, snap: Int,
                  schema: StructType,
                  rows: IterableOnce[org.apache.spark.sql.Row],
                  meta: Map[String, String] = Map.empty): Unit = {
    if (isCommitted(table, snap)) return
    publish(table, snap, schema, meta) { tmp =>
      Files.createDirectories(tmp)
      val fname = "part-00000-local.parquet"
      val n = org.apache.spark.sql.graftx.LocalParquet.write(spark,
        tmp.resolve(fname).toString, nullable(schema), rows)
      Seq(fname -> n)
    }
  }

  private def nullable(schema: StructType) =
    StructType(schema.fields.map(_.copy(nullable = true)))

  /** The crash-safe commit protocol both writers share: `write` fills the
    * snapshot's tmp dir and returns its (file, rows) lineage; the schema
    * and the manifest are written INSIDE the tmp dir, which is then
    * atomically renamed into place.
    *
    * The schema travels with the snapshot (Iceberg keeps it in table
    * metadata): read() supplies it explicitly, so no committed snapshot
    * ever pays a parquet schema-inference JOB — at toy scale those listing
    * jobs were ~25% of the incremental path's job count (by job call site),
    * and at scale a footer-sampling job per read is pure waste. asNullable:
    * the writer may relax nullability; a nullable reader schema is always
    * safe to project.
    */
  private def publish(table: String, snap: Int, schema: StructType,
                      meta: Map[String, String])(write: Path => Seq[(String, Long)]): Unit = {
    val target = dir(table, snap)
    val tmp = Paths.get(target.toString + ".tmp")
    deleteRec(tmp); deleteRec(target)
    val t0 = System.nanoTime()
    val parts = write(tmp)
    val ms = (System.nanoTime() - t0) / 1000000
    val lineage = parts.map { case (f, n) => s"""{"file": ${q(f)}, "rows": $n}""" }
    val metaJson = meta.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    val json =
      s"""{"table": ${q(table)}, "snapshot": $snap,
         | "commit_id": ${q(java.util.UUID.randomUUID().toString)},
         | "rows": ${parts.map(_._2).sum},
         | "num_partitions": ${lineage.length}, "write_ms": $ms,
         | "partitions": [${lineage.mkString(", ")}],
         | "meta": {$metaJson}}""".stripMargin
    Files.write(tmp.resolve("_SCHEMA.json"),
      nullable(schema).json.getBytes(StandardCharsets.UTF_8))
    Files.write(tmp.resolve("_MANIFEST.json"), json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  def read(table: String, snap: Int): DataFrame = {
    require(isCommitted(table, snap), s"$table/snapshot=$snap not committed")
    nReads.incrementAndGet()
    val reader = committedSchema(table, snap) match {
      case Some(s) => spark.read.schema(s) // committed schema ⇒ zero-job read
      case None => spark.read // pre-schema store layout: infer as before
    }
    reader.parquet(dir(table, snap).toString)
  }

  private def committedSchema(table: String, snap: Int): Option[StructType] = {
    val schemaFile = dir(table, snap).resolve("_SCHEMA.json")
    if (!Files.exists(schemaFile)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(Files.readAllBytes(schemaFile), StandardCharsets.UTF_8))
      .asInstanceOf[StructType])
  }

  private def compactName(table: String): String = table + "__compacted"

  /** Rewrite snapshots 0..upTo of an append-only table into ONE committed
    * snapshot of the side table `<table>__compacted` (snapshot_id column
    * preserved) — the Iceberg table-maintenance rewrite. readRange then
    * scans the newest compacted prefix + the per-snapshot tail, so a deep
    * chain's union fan-in is bounded by the compaction interval instead of
    * growing with chain depth. Idempotent and crash-safe like any commit.
    *
    * The input is a plain union of committed scans, so the file count comes
    * from `coalesce` — no exchange: [[commit]]'s `repartition` would
    * re-shuffle the whole prefix (signature and shingle arrays included) at
    * every compaction.
    *
    * `rows`: a caller that already holds the prefix on the driver passes its
    * rows (each a row of `table` followed by its `snapshot_id`), and they
    * commit through [[commitLocal]] with zero jobs — the same schema, row
    * set and `compacted_through` meta as the Spark rewrite.
    */
  def compactUpTo(table: String, upTo: Int,
                  rows: Option[Iterator[org.apache.spark.sql.Row]] = None): Unit =
    if (!isCommitted(compactName(table), upTo)) {
      val meta = Map("compacted_through" -> upTo.toString)
      rows match {
        case Some(rs) =>
          val schema = committedSchema(table, upTo)
            .getOrElse(sys.error(s"$table/snapshot=$upTo has no committed schema"))
            .add("snapshot_id", org.apache.spark.sql.types.IntegerType, nullable = false)
          commitLocal(compactName(table), upTo, schema, rs, meta)
        case None =>
          // the rewrite's size is exactly the sum of its inputs' manifests
          val n = (0 to upTo).filter(isCommitted(table, _))
            .map(committedRows(table, _)).sum
          commit(compactName(table), upTo, readRange(table, 0, upTo).coalesce(fileCount(n)), meta)
      }
    }

  /** Read committed snapshots snapLo..snapHi of a table as one DataFrame with
    * a `snapshot_id` column (partition-pruned scan analogue). A full-prefix
    * read (snapLo = 0) transparently substitutes the newest compacted prefix
    * ≤ snapHi for its per-snapshot scans.
    */
  def readRange(table: String, snapLo: Int, snapHi: Int): DataFrame = {
    val compacted =
      if (snapLo == 0) latest(compactName(table)).filter(_ <= snapHi) else None
    compacted match {
      case Some(c) =>
        val tail = (c + 1 to snapHi).filter(isCommitted(table, _))
          .map(s => read(table, s).withColumn("snapshot_id", lit(s)))
        (read(compactName(table), c) +: tail).reduce(_ unionByName _)
      case None =>
        (snapLo to snapHi).filter(isCommitted(table, _))
          .map(s => read(table, s).withColumn("snapshot_id", lit(s)))
          .reduce(_ unionByName _)
    }
  }

  def latest(table: String): Option[Int] = {
    val t = Paths.get(root, table)
    if (!Files.exists(t)) return None
    val listing = Files.list(t)
    val snaps =
      try listing.toArray.map(_.toString)
        .flatMap { p =>
          "snapshot=(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toInt)
        }
      finally listing.close()
    val committed = snaps.filter(isCommitted(table, _))
    if (committed.isEmpty) None else Some(committed.max)
  }

  def manifestJson(table: String, snap: Int): String =
    new String(Files.readAllBytes(manifest(table, snap)), StandardCharsets.UTF_8)

  /** The `commit_id` of a committed snapshot's manifest (None for a store
    * written before manifests carried one) — zero jobs.
    */
  def commitId(table: String, snap: Int): Option[String] =
    if (!isCommitted(table, snap)) None
    else """"commit_id":\s*"([^"]+)"""".r.findFirstMatchIn(manifestJson(table, snap))
      .map(_.group(1))

  /** Row count of a committed snapshot, from its manifest — zero jobs. */
  def committedRows(table: String, snap: Int): Long =
    """"rows":\s*(\d+)""".r.findFirstMatchIn(manifestJson(table, snap))
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"no rows field in $table/snapshot=$snap manifest"))

  /** Compute-or-reuse: the stage runner every pipeline step goes through.
    * `approxRows` forwards to [[commit]]'s small-output file coalescing.
    */
  def stage(table: String, snap: Int, meta: Map[String, String] = Map.empty,
            approxRows: Option[Long] = None)
           (compute: => DataFrame): DataFrame = {
    if (!isCommitted(table, snap)) commit(table, snap, compute, meta, approxRows)
    read(table, snap)
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
  }
}
