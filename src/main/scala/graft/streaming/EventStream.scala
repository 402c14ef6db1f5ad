package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming ingest path. The reference is batch-only
  * (SURVEY.md §2.10) — this is the engine's forward-looking stream surface:
  * the same windowed aggregation works as a continuous query over a
  * file-source directory (new parquet files = new snapshots) and is driven
  * synchronously here so the batch oracle can check it.
  */
object EventStream {

  /** Run `body` with spark.sql.shuffle.partitions pinned to `n` — the state
    * store instance count for a stateful streaming query. Each partition is
    * one HDFS-backed store with per-commit file+fsync overhead (measured:
    * 32 partitions cost 33.8 s of summed commit time for 16k keys vs 0.7 s
    * at 8), so the count should track STATE volume, not core count — on a
    * real cluster a 100-TB stream sizes this in the thousands, a toy drain
    * in the single digits. Restored afterwards. The key is session-wide, not
    * per-query: queries do not always run serially — the stream drain of
    * `SparkEntry.prepareSessionFramesConcurrent` runs beside eight other
    * session_prep builds, and any shuffle they plan meanwhile gets `n`
    * partitions too. That is sound only because no such build's output
    * depends on the shuffle-partition count (the contract stated at
    * `SparkEntry.prepBuilds`).
    */
  private[streaming] def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n)
    try body finally spark.conf.set(key, old)
  }

  /** Drain a complete-mode aggregation into an in-memory table. The state
    * store checkpoints under the session scratch root (tmpfs on this host —
    * every micro-batch commit is one file create + fsync PER state
    * partition, the dominant latency of a toy drain on a contended disk;
    * r5's driver window measured the identical query at 1.6 vs 9.2 s purely
    * on /tmp IO weather). The checkpoint is deleted after the drain — it is
    * scratch, the memory sink holds the result.
    */
  private def drainToMemory(spark: SparkSession, agg: DataFrame, name: String,
                            statePartitions: Int): DataFrame =
    drain(spark, agg, name, statePartitions, "complete")

  /** Shared drain core — `mode` is the sink output mode ("complete" for the
    * aggregation queries, "append" for the stateful pair emitters).
    */
  private[streaming] def drain(spark: SparkSession, df: DataFrame, name: String,
                               statePartitions: Int, mode: String): DataFrame = {
    val ckpt = graft.GraftSession.scratchDir("stream_ckpt")
    try withStatePartitions(spark, statePartitions) {
      val q = df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally graft.GraftSession.dropScratch(ckpt)
    spark.table(name)
  }

  /** 5-minute tumbling-window counts/sums per event_type with a 10-minute
    * watermark. Returns the COMPLETE result after draining all available
    * input — semantically identical to the batch aggregation, which is what
    * the DuckDB oracle runs.
    */
  def windowedAgg(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = graft.GraftSession.readParquet(spark, eventsDir).schema
    // the streaming file source wants a DIRECTORY of files; testdata tables
    // are single parquet files — stage a symlink dir (zero copy) under the
    // scratch root, dropped once the drain has filled the memory sink
    val srcPath = java.nio.file.Paths.get(eventsDir)
    val staged =
      if (java.nio.file.Files.isDirectory(srcPath)) None
      else {
        val d = graft.GraftSession.scratchDir("stream_src")
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(d, srcPath.getFileName.toString), srcPath.toAbsolutePath)
        Some(d)
      }
    try {
      val stream = spark.readStream.schema(schema).parquet(staged.getOrElse(eventsDir))
      val agg = stream
        // parquet timestamps are NTZ; event-time processing needs TIMESTAMP
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          // exact decimal accumulation, DOUBLE on the wire: decimal output
          // columns surface as decimal.Decimal objects on the compare side
          // while the oracle yields float64 — same values, dtype hash mismatch
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        // epoch seconds: timezone-free oracle comparison
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("event_type"), col("n"), col("sum_value"))
      drainToMemory(spark, agg, s"events_win_${System.nanoTime()}", 8)
    } finally staged.foreach(graft.GraftSession.dropScratch)
  }

  /** Streaming exact-dedup: a stateful streaming aggregation electing the
    * first-occurrence representative per CONTENT key over a parquet file
    * stream (new files = new documents), drained with AvailableNow. The
    * batch-engine equivalent is ExactDedup (J1/J2); here the accumulating
    * keyed state lives in the streaming state store. Output: one row per
    * distinct content, (rep_doc = min doc_id, cnt) — deterministic
    * regardless of file/batch arrival order because min/count are
    * order-insensitive.
    */
  def streamExactDedup(spark: SparkSession, pagesDir: String): DataFrame = {
    import graft.functions.gf
    val schema = graft.GraftSession.readParquet(spark, pagesDir).schema
    val stream = spark.readStream.schema(schema).parquet(pagesDir)
    val agg = stream
      .groupBy(gf.contentKey64(col("text")).as("ckey"))
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("cnt"))
      .select(col("rep_doc"), col("cnt"))
    drainToMemory(spark, agg, s"pages_dedup_${System.nanoTime()}", 8)
  }

  /** Gap-based sessionization via the typed KeyValueGroupedDataset API
    * (per-user custom state logic the built-in window functions can't
    * express as one operator): events within `gapMinutes` of the previous
    * event share a session. Deterministic (sort within group), one shuffle
    * on user_id.
    *
    * SCALE BOUND: `flatMapGroups` hands each user's events as an iterator,
    * but gap detection needs them time-ordered, so this form materializes
    * ONE user's timestamps on the executor heap (`toArray.sorted`) — fine
    * while max-events-per-user is bounded (the driver corpus peaks at a few
    * hundred; AggAndSessionSpec pins the bound), pathological for a
    * 10⁸-event single user. [[sessionizeSorted]] is the unbounded-user
    * shape (secondary sort + O(1)-state streaming fold) and is what the
    * driver query runs; the two are spec-gated identical.
    */
  def sessionize(spark: SparkSession, eventsDir: String,
                 gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    // integer microseconds end to end (timestamps carry µs precision;
    // second-level rounding would diverge from the oracle)
    val events = graft.GraftSession.readParquet(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, Long)]
    val gapUs = gapMinutes * 60000000L
    events.groupByKey(_._1)
      .flatMapGroups { (user: Long, it: Iterator[(Long, Long)]) =>
        val times = it.map(_._2).toArray.sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = times(0)
        var last = times(0)
        var n = 1L
        var i = 1
        while (i < times.length) {
          if (times(i) - last > gapUs) {
            out += ((user, start, n, last - start))
            start = times(i); n = 0L
          }
          last = times(i); n += 1
          i += 1
        }
        out += ((user, start, n, last - start))
        out.iterator
      }
      .toDF("user_id", "session_start_us", "n_events", "duration_us")
  }

  /** Sessionization in the 100-TB shape: secondary sort (hash-repartition on
    * user_id + sortWithinPartitions(user_id, ts)) followed by an O(1)-state
    * streaming fold over each sorted partition — no user's events are ever
    * materialized on a heap, so a single pathological user costs only its
    * share of one partition's STREAM, not an array. Output is identical to
    * [[sessionize]] (spec-gated); same single shuffle.
    */
  def sessionizeSorted(spark: SparkSession, eventsDir: String,
                       gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val events = graft.GraftSession.readParquet(spark, eventsDir)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, Long)]
    val gapUs = gapMinutes * 60000000L
    events
      .repartition(spark.sparkContext.defaultParallelism, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("us"))
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long, Long)] {
          private var user = 0L; private var start = 0L; private var last = 0L
          private var n = 0L; private var open = false
          private var out: (Long, Long, Long, Long) = _
          private def advance(): Unit = {
            while (out == null && it.hasNext) {
              val (u, t) = it.next()
              if (!open) { user = u; start = t; last = t; n = 1; open = true }
              else if (u != user || t - last > gapUs) {
                out = (user, start, n, last - start)
                user = u; start = t; last = t; n = 1
              } else { last = t; n += 1 }
            }
            if (out == null && open) {
              out = (user, start, n, last - start); open = false
            }
          }
          def hasNext: Boolean = { if (out == null) advance(); out != null }
          def next(): (Long, Long, Long, Long) = {
            if (out == null) advance()
            val r = out; out = null; r
          }
        }
      }
      .toDF("user_id", "session_start_us", "n_events", "duration_us")
  }
}
