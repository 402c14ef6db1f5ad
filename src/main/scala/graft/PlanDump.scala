package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Dev tool: dump formatted physical plans of the load-bearing queries to
  * PLANS.md (the evidence trail for the plan-shape claims in
  * ARCHITECTURE.md; structural assertions live in PlanQualitySpec).
  *
  * Usage: `PlanDump [sfDir] [outFile]` — `sfDir` defaults to the sf0.001
  * testdata directory, `outFile` to `PLANS.md` in the working directory.
  * The session is `local[nproc]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.get(s"local[$nproc]", nproc)
    // the default input; args(0) overrides it
    val sfDir = "/root/testdata/sf0.001"
    val dataDir = args.lift(0).getOrElse(sfDir)
    val outFile = Paths.get(args.lift(1).getOrElse("PLANS.md"))
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the load-bearing queries\n\n")
    sb.append("Generated by `graft.PlanDump`. Things to check:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `WholeStageCodegen` spans\n")
    sb.append("around the graft expressions, broadcast vs shuffle joins, single\n")
    sb.append("exchange in the exact election, the bounded bucket-pair kernel and\n")
    sb.append("the bounded incremental probe (one hash exchange on the key, a sort\n")
    sb.append("and a streaming per-key scan each; the probe's old and new rows\n")
    sb.append("meet under that one exchange, tagged is_new, with no window, join\n")
    sb.append("or aggregate), and the partitioned two-pass prefix scan.\n")

    def dump(title: String, df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("\n```\n")
    }

    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    dump("pushdown + pruning (filtered projection on documents)",
      docs.filter(col("lang") === "en").select(col("doc_id"), length(col("text"))))
    dump("exact-dup election (single exchange, window min)",
      graft.dedup.ExactDedup.assignments(docs))
    dump("LSH candidates (band keys → sort-and-stream bucket kernel → distinct)", {
      val cfg = graft.dedup.DedupConfig()
      graft.dedup.MinHashLSH.pairsFromKeyRows(
        graft.dedup.MinHashLSH.bandKeyRows(graft.dedup.MinHashLSH.featuresFused(docs, cfg), cfg),
        cfg)
    })
    dump("fused features: shingles + minhash + simhash in ONE tokenization pass",
      graft.dedup.MinHashLSH.featuresFused(docs, graft.dedup.DedupConfig()))
    dump("bounded bucket pairs (one hash exchange on the key, sort by (key, e), " +
      "streaming per-key scan: small keys emit all pairs, hot keys stream star edges)",
      graft.dedup.MinHashLSH.boundedBucketPairs(
        docs.select(pmod(col("doc_id"), lit(50)).as("key"), col("doc_id").as("e")),
        Seq("key"), 64))
    dump("exact ANN top-k (broadcast query side; the driver query serves a " +
      "session-memoized checkpoint of this plan)",
      graft.sim.Ann.exactTopK(
        spark.read.parquet(s"$dataDir/embeddings.parquet"), 0L until 20L, 5))
    dump("prefix_scan (two-pass: partitioned local windows + broadcast chunk offsets)",
      SparkEntry.queries("prefix_scan")(spark, dataDir))
    dump("SRP threshold pairs (emb_cosine_pairs at bench scale — bucketed, never O(n²))",
      graft.sim.Ann.srpThresholdPairs(
        spark.read.parquet(s"$dataDir/embeddings.parquet"), tau = 0.4))
    dump("bounded incremental probe (old ∪ new tagged is_new, one hash exchange on the " +
      "key, sort by (key, is_new, e), the bucket kernel's streaming scan: pairs whose " +
      "later row is new, hot keys stream star edges to new rows)",
      graft.dedup.MinHashLSH.boundedProbePairs(
        docs.select(pmod(col("doc_id"), lit(50)).as("key"), col("doc_id").as("e"))
          .filter(col("e") >= 400),
        docs.select(pmod(col("doc_id"), lit(50)).as("key"), col("doc_id").as("e"))
          .filter(col("e") < 400),
        Seq("key"), 64))

    dump("query-restricted SRP-LSH topk (r4: qid filter BEFORE the cosine re-rank joins)",
      graft.sim.Ann.lshTopK(spark.read.parquet(s"$dataDir/embeddings.parquet"),
        k = 5, bits = graft.sim.Ann.PinnedLsh.bits,
        tables = graft.sim.Ann.PinnedLsh.tables,
        seed = graft.sim.Ann.PinnedLsh.seed, queryIds = 0L until 20L))

    dump("query-restricted IVF topk (r5: isInCollection qid restriction pushed into the probe scan)",
      graft.sim.Ann.ivfTopK(spark.read.parquet(s"$dataDir/embeddings.parquet"),
        k = 5, nCells = graft.sim.Ann.PinnedIvf.nCells,
        nProbe = graft.sim.Ann.PinnedIvf.nProbe, queryIds = 0L until 20L))

    dump("long-repeat verify+extend (one (a, b) exchange, sort by (a, b, pa − pb, pa), " +
      "streaming chain-head filter before the text joins — one anchor per maximal span)", {
      val norm = docs.select(col("doc_id"), lower(col("text")).as("t"))
      graft.dedup.LongRepeats.verifyAndExtend(norm,
        graft.dedup.LongRepeats.winnowCandidates(norm, 24, 12, 32), 24, 35)
    })

    dump("decontamination (probe fingerprints broadcast; corpus streams one fingerprint pass)",
      graft.text.Decontaminate.matches(docs,
        docs.filter(col("doc_id") % 50 === 0 && length(col("text")) >= 160)
          .select(col("doc_id").as("probe_id"),
            lower(substring(col("text"), 101, 60)).as("probe"))))

    dump("incremental content stage (r6.3: features computed IN the " +
      "registration projection — no join-back; empty texts keep NULL features)", {
      import graft.functions.gf
      val changed = docs.select(gf.contentKey64(col("text")).as("ckey"), col("doc_id"))
      val fresh = changed.groupBy("ckey").agg(min("doc_id").as("content_id"))
      fresh
        .join(docs.select(col("doc_id").as("content_id"), col("text")), Seq("content_id"))
        .select(col("ckey"), col("content_id"),
          when(length(trim(col("text"))) > 0,
            gf.featureStruct(col("text"), 5, 128, 42L)).as("f"))
        .select(col("ckey"), col("content_id"), col("f.sh").as("sh"),
          col("f.sig").as("sig"), col("f.sim64").as("sim64"))
    })

    Files.write(outFile, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote ${sb.length} chars to $outFile")
    spark.stop()
  }
}
