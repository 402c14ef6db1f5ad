package graft

import graft.functions.{gf, MinHashUnionAgg}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AggAndSessionSpec extends AnyFunSuite with SparkTestBase {

  test("MinHashUnionAgg estimates the union distinct-shingle count within 25% (3 sigma at 128 perms)") {
    import spark.implicits._
    // 3 groups; group g has docs over a known distinct word population
    val rnd = new scala.util.Random(5)
    val rows = for {
      g <- 0 until 3
      d <- 0 until 20
    } yield (s"g$g", (0 until 150).map(_ => s"g${g}w${rnd.nextInt(800)}").mkString(" "))
    val df = rows.toDF("source", "text")
    val feats = df.select(col("source"),
      gf.minhash(gf.shingles(col("text"), 1), 128, 42L).as("sig"))
    val est = feats.groupBy("source")
      .agg(MinHashUnionAgg.estimateDistinct(col("sig")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact distinct word-shingles per group
    val exact = rows.groupBy(_._1).map { case (g, ds) =>
      g -> ds.flatMap(_._2.split(" ")).distinct.size
    }
    for ((g, ex) <- exact) {
      val e = est(g)
      assert(math.abs(e - ex).toDouble / ex < 0.25, s"$g est=$e exact=$ex") // 3sigma at m=128
    }
  }

  test("sessionize: gap semantics, ordering, microsecond precision") {
    import spark.implicits._
    val dir = tempDir("graft_sess").toString
    val base = 1700000000000000L // µs
    val min = 60000000L
    val rows = Seq(
      // user 1: two sessions (40-minute gap), sub-second offsets preserved
      (1L, base), (1L, base + 5 * min), (1L, base + 10 * min + 123456L),
      (1L, base + 50 * min), (1L, base + 55 * min),
      // user 2: single event
      (2L, base + 7L)
    ).toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        lit(0L).as("event_id"), lit("e").as("event_type"), lit(0.0).as("value"),
        lit("").as("props"))
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = graft.streaming.EventStream.sessionize(spark, s"$dir/events.parquet", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, base, 3L, 10 * min + 123456L),
      (1L, base + 50 * min, 2L, 5 * min),
      (2L, base + 7L, 1L, 0L)))
    // the secondary-sort streaming-fold form is output-identical
    val sorted = graft.streaming.EventStream
      .sessionizeSorted(spark, s"$dir/events.parquet", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(sorted == got)
  }

  test("sessionizeSorted == sessionize on a randomized multi-user stream " +
    "(users split across partitions, duplicate timestamps, empty partitions)") {
    import spark.implicits._
    val dir = tempDir("graft_sess_rand").toString
    val rnd = new scala.util.Random(11)
    val base = 1700000000000000L
    val rows = (0 until 5000).map { _ =>
      val u = rnd.nextInt(40).toLong // ~125 events/user: the driver-corpus
                                     // regime the flatMapGroups heap bound
                                     // assumes (scaladoc SCALE BOUND note)
      (u, base + rnd.nextInt(6 * 3600) * 1000000L) // duplicates likely
    }.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        lit(0L).as("event_id"), lit("e").as("event_type"), lit(0.0).as("value"),
        lit("").as("props"))
      .repartition(64) // more partitions than users: forces cross-partition
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    val a = canon(graft.streaming.EventStream.sessionize(spark, s"$dir/events.parquet", 15))
    val b = canon(graft.streaming.EventStream.sessionizeSorted(spark, s"$dir/events.parquet", 15))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("windowedAgg over a single parquet file: exact window counts and sums, no staging dir left") {
    import java.nio.file.{Files, Path, Paths}
    import spark.implicits._
    def staged(root: String, prefix: String): Set[Path] = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(Paths.get(root))
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
      finally ls.close()
    }
    def leftovers() = staged(sys.props("java.io.tmpdir"), "graft_stream_src") ++
      staged(GraftSession.scratchRoot, "stream_src")
    // a single parquet FILE, the shape of the testdata events table
    val dir = tempDir("graft_events")
    val t0 = 1700000100L // a 5-minute boundary
    Seq((t0 + 60, "click", 1.0), (t0 + 180, "click", 2.5), (t0 + 240, "view", 1.0),
      (t0 + 420, "view", 4.0))
      .toDF("secs", "event_type", "value")
      .select(timestamp_seconds(col("secs")).as("ts"), col("event_type"), col("value"))
      .coalesce(1).write.parquet(dir.resolve("w").toString)
    val part = Files.list(dir.resolve("w"))
    val file = try part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally part.close()
    val events = Files.move(file, dir.resolve("events.parquet"))

    val before = leftovers()
    val got = graft.streaming.EventStream.windowedAgg(spark, events.toString).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((t0, "click", 2L, 3.5), (t0, "view", 1L, 1.0), (t0 + 300, "view", 1L, 4.0)))
    assert(leftovers() == before, s"staging dirs left: ${leftovers() -- before}")
  }
}
