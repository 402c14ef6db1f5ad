package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.gf

/** Similarity search over an embedding column (array<float>).
  *
  * - `exactTopK`: brute-force cosine — the small-query-set baseline
  *   (broadcast the queries, scan the corpus once, per-query window top-k).
  * - `lshTopK`: signed-random-projection LSH — the scale path. Each vector
  *   lands in `tables` buckets (one per hash table); candidates are bucket
  *   collisions; exact cosine re-ranks candidates only. Corpus is never
  *   cross-joined.
  */
object Ann {

  /** Recall-VALIDATED configs — the single source of truth shared by the
    * driver's `ann_topk_lsh`/`ann_topk_ivf` queries and the oracle-pinned
    * `ann_*_recall` gates, so the benched scale path is always the validated
    * one. AnnRecallProbe on the driver's random-ish embedding corpora
    * (n = 500..2000): SRP bits must track log2(n) — bits=10 collapses to
    * recall ≈ 0.02 at this density, bits=4 × 12 tables measures 0.80–0.87;
    * IVF 16 cells × 6 probes measures 0.90–0.94. Re-run AnnRecallProbe
    * before changing either config at a different corpus density.
    */
  final case class LshConfig(bits: Int, tables: Int, seed: Long)
  val PinnedLsh: LshConfig = LshConfig(bits = 4, tables = 12, seed = 7L)
  final case class IvfConfig(nCells: Int, nProbe: Int)
  val PinnedIvf: IvfConfig = IvfConfig(nCells = 16, nProbe = 6)

  // ---- pure IVF kernels, shared by ivfTopK's execution paths AND the
  // driver-pure oracle replication (SparkEntry ann_topk_ivf dump): the same
  // JVM functions produce byte-identical floats, so only the EXECUTION
  // (distributed assign/probe/rank vs driver loop) differs between the
  // query and its oracle.
  private[graft] def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }
  private[graft] def normF(a: Array[Float]): Double = math.sqrt(dotF(a, a))
  private[graft] def cellNorms(cs: Array[Array[Float]]): Array[Double] =
    cs.map(normF)

  /** Closest-n centroid indices by cosine (sim desc, index asc on ties —
    * the stable-sort order of the original form). Allocation-light: one
    * sims array per row plus a selection loop, with centroid norms
    * precomputed once per CALLER (the r5 form built a tuple Seq + sortBy
    * and re-derived every centroid norm per ROW in the assign path).
    */
  private[graft] def topCells(v: Array[Float], cs: Array[Array[Float]],
                              csNorms: Array[Double], n: Int): Array[Int] = {
    val nv = normF(v)
    val sims = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      sims(c) = if (nv == 0) 0.0 else dotF(v, cs(c)) / (nv * csNorms(c))
      c += 1
    }
    val out = new Array[Int](math.min(n, cs.length))
    val used = new Array[Boolean](cs.length)
    var i = 0
    while (i < out.length) {
      var best = -1; var bs = Double.NegativeInfinity
      var j = 0
      while (j < sims.length) {
        if (!used(j) && sims(j) > bs) { best = j; bs = sims(j) }
        j += 1
      }
      if (best < 0) { // all remaining NaN (degenerate centroids): first unused
        best = 0; while (used(best)) best += 1
      }
      used(best) = true; out(i) = best; i += 1
    }
    out
  }

  /** Deterministic driver-local k-means (seeding = lowest-id vectors;
    * iteration in ascending-id order so the float sums are ORDER-PINNED —
    * r6: the oracle replication reruns this verbatim; the pre-r6 form
    * summed in collect order, the same jitter class the 1e-4 centroid
    * rounding absorbs and the distributed-twin parity spec tolerates).
    * An empty probe yields zero centroids.
    */
  private[graft] def trainLocalKmeans(probe: Array[(Long, Array[Float])],
                                      nCells: Int,
                                      iters: Int): Array[Array[Float]] = {
    val sorted = probe.sortBy(_._1)
    var cs = sorted.take(nCells).map(_._2)
    for (_ <- 0 until iters if cs.nonEmpty) {
      val dim = cs(0).length
      val csN = cellNorms(cs)
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      for ((_, v) <- sorted) {
        val c = topCells(v, cs, csN, 1)(0)
        counts(c) += 1
        var p = 0
        while (p < dim) { sums(c)(p) += v(p); p += 1 }
      }
      cs = cs.indices.map { c =>
        Array.tabulate(dim) { p =>
          val m = if (counts(c) == 0) cs(c)(p).toDouble
                  else sums(c)(p) / counts(c)
          (math.rint(m * 1e4) / 1e4).toFloat
        }
      }.toArray
    }
    cs
  }

  /** SRP bits as a function of corpus size — bits must track log2(n):
    * too many bits shatter true neighborhoods (AnnRecallProbe: bits=10 →
    * recall 0.02–0.07; even bits=6 × 12 tables drops to 0.49–0.53 on the
    * driver's modest-cosine embeddings), too few flood buckets past the
    * star cap. The probe's anchor is ≈ 125 vectors/bucket, which holds
    * recall 0.80–0.87 at BOTH measured corpus sizes (n=500 and n=2000 →
    * bits=4, the pinned config). Callers with larger corpora should use
    * this with PinnedLsh.tables/seed and re-probe before trusting a new
    * density regime.
    */
  def lshBitsFor(n: Long): Int =
    math.max(4, math.ceil(math.log(math.max(1L, n) / 125.0) / math.log(2)).toInt)

  /** Exact top-k neighbors for each query id. Queries should be small enough
    * to broadcast (the corpus side streams).
    */
  def exactTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val sims = emb.select(col(idCol).as("nbr"), col(vecCol).as("nv"))
      .join(broadcast(q), col("nbr") =!= col("qid"))
      .select(col("qid"), col("nbr"),
        round(gf.cosine(col("qv"), col("nv")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nbr").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF (inverted-file) ANN: a distributed k-means coarse quantizer
    * (deterministically SEEDED — lowest-id vectors; centroid means are
    * float sums whose partial-aggregation order Spark does not fix, so
    * borderline vectors can in principle flip cells between runs; the
    * centroid components are rounded to 1e-4 below, which collapses the
    * overwhelmingly common tiny-jitter case, and the driver-facing recall
    * gate leaves threshold margin for the rest)
    * partitions the corpus into `nCells` cells; each vector lands
    * in exactly one cell, queries probe their `nProbe` nearest cells and
    * re-rank candidates with exact cosine. The index build is DataFrame-
    * native (element-wise centroid means via posexplode + groupBy); only
    * the per-row nearest-centroid argmax runs in mapPartitions over a
    * broadcast centroid array — the classic kmeans assign step, O(dim·cells)
    * per row with no shuffle.
    *
    * Scale shape: the corpus is never self-joined; candidate volume per
    * query ≈ nProbe/nCells of the corpus. Centroids are tiny
    * (cells × dim floats) and broadcast.
    */
  def ivfTopK(emb: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4,
              iters: Int = 3, idCol: String = "vec_id",
              vecCol: String = "embedding",
              /** restrict output to these query ids (exact restriction —
                * per-qid results are independent); probes are generated for
                * the restricted set only, so candidate volume scales with
                * the query count, not the corpus. */
              queryIds: Seq[Long] = Nil): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]

    // Quantizer training. Small corpora (≤ Regime.LOCAL_KMEANS_MAX vectors)
    // train driver-local: ONE collect replaces 2 jobs × iters of assign/mean
    // latency — probed with limit(MAX+1) so the decision itself costs at
    // most the bounded collect, and not at all under
    // spark.graft.regime=distributed (Regime.local). The 1e-4 rounding
    // keeps both paths' centroids identical up to float summation order,
    // exactly as it absorbs Spark's partial-agg jitter.
    // An EMPTY corpus short-circuits to zero centroids (the distributed
    // branch degrades the same way through empty aggregations) — the
    // assign/probe lambdas below then never run because there are no rows,
    // and the result is an empty frame, not an exception.
    lazy val localProbe = vecs.limit(graft.Regime.LOCAL_KMEANS_MAX + 1).collect()
    val centroids: Array[Array[Float]] =
      if (graft.Regime.local(spark, localProbe.length, graft.Regime.LOCAL_KMEANS_MAX)) {
        trainLocalKmeans(localProbe, nCells, iters)
      } else {
        // deterministic seeding: the nCells vectors with the smallest ids
        var cs = vecs.orderBy("id").take(nCells).map(_._2)
        for (_ <- 0 until iters) {
          val bc = spark.sparkContext.broadcast(cs)
          val assigned = vecs.mapPartitions { it =>
            val csN = cellNorms(bc.value) // once per partition, not per row
            it.map { case (id, v) => (topCells(v, bc.value, csN, 1)(0), id, v) }
          }.toDF("cell", "id", "v")
          // element-wise mean per cell — pure DataFrame aggregation
          val means = assigned
            .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
            .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
            .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
          cs = cs.indices.map { c =>
            val dim = cs(c).length
            // round to 1e-4: absorbs partial-aggregation-order jitter in
            // the float mean so repeated runs almost always see identical
            // centroids
            Array.tabulate(dim) { p =>
              (math.rint(means.getOrElse((c, p), cs(c)(p).toDouble) * 1e4) / 1e4).toFloat
            }
          }.toArray
        }
        cs
      }

    val bc = spark.sparkContext.broadcast(centroids)
    val index = vecs.mapPartitions { it =>
      val csN = cellNorms(bc.value)
      it.map { case (id, v) => (topCells(v, bc.value, csN, 1)(0), id, v) }
    }.toDF("cell", "nbr", "nv")
    // Column-form restriction (not a typed lambda): stays codegen'd and
    // pushes into the parquet scan — at corpus scale the probe side reads
    // |queryIds| rows, not the corpus (PlanQualitySpec gates the pushdown,
    // mirroring lshTopK's qid gate)
    val qvecs =
      if (queryIds.isEmpty) vecs
      else vecs.filter(col("id").isInCollection(queryIds))
        .as[(Long, Array[Float])]
    val probes = qvecs.mapPartitions { it =>
      val csN = cellNorms(bc.value)
      it.flatMap { case (id, v) =>
        topCells(v, bc.value, csN, nProbe).iterator.map(c => (c, id, v)) }
    }.toDF("cell", "qid", "qv")
    val sims = probes.join(index, "cell")
      .filter(col("qid") =!= col("nbr"))
      .select(col("qid"), col("nbr"),
        round(gf.cosine(col("qv"), col("nv")), 6).as("sim"))
    // no distinct needed: every corpus vector lives in exactly one cell,
    // so a (qid, nbr) pair meets at most once across the probed cells
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nbr").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** SRP-LSH bucketed THRESHOLD pair join: all candidate pairs with exact
    * cosine ≥ tau, candidates from bucket collisions — the scale path for
    * `emb_cosine_pairs` (a nested-loop threshold join is O(n²) by
    * construction; this is linear in collisions). Recall is the SRP
    * collision probability, partial at low tau by design — the exact join
    * remains the verified baseline at oracle scale. Output (a, b, sim) with
    * a < b, matching the exact form's schema.
    */
  def srpThresholdPairs(emb: DataFrame, tau: Double, bits: Int = 6,
                        tables: Int = 12, seed: Long = 42L, maxBucket: Int = 512,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketCols = (0 until tables).map(t =>
      gf.srpBucket(col(vecCol), bits, seed + t).as(s"b$t"))
    val bucketed = emb.select(col(idCol).as("id") +: col(vecCol).as("v") +: bucketCols: _*)
      .select(col("id"),
        posexplode(array((0 until tables).map(t => col(s"b$t")): _*)).as(Seq("table", "bucket")))
    val cand = graft.dedup.MinHashLSH.boundedBucketPairs(
        bucketed.select(col("table"), col("bucket"), col("id").as("e")),
        Seq("table", "bucket"), maxBucket)
      .select(least(col("p"), col("q")).as("a"), greatest(col("p"), col("q")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val va = emb.select(col(idCol).as("a"), col(vecCol).as("va"))
    val vb = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    cand.join(va, "a").join(vb, "b")
      .withColumn("sim", round(gf.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= tau)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Approximate top-k for EVERY vector via SRP-LSH bucket collisions.
    * maxBucket guards degenerate buckets (skew: near-identical embedding
    * floods) — beyond it only the lowest-id star pairs are emitted.
    * `queryIds`: restrict output to these query ids (per-qid results are
    * independent, so the restriction is exact); the filter lands BEFORE the
    * cosine re-rank, so a 20-query gate never re-ranks the whole corpus.
    */
  def lshTopK(emb: DataFrame, k: Int, bits: Int = 12, tables: Int = 4,
              seed: Long = 42L, maxBucket: Int = 256,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIds: Seq[Long] = Nil): DataFrame = {
    val bucketCols = (0 until tables).map(t =>
      gf.srpBucket(col(vecCol), bits, seed + t).as(s"b$t"))
    val bucketed = emb.select(col(idCol).as("id") +: col(vecCol).as("v") +: bucketCols: _*)
      .select(col("id"), col("v"),
        posexplode(array((0 until tables).map(t => col(s"b$t")): _*)).as(Seq("table", "bucket")))
    // bounded bucket-pair kernel: degenerate buckets (near-identical
    // embedding floods) emit star pairs from a streaming pass, never a
    // per-bucket aggregation buffer
    val cand = graft.dedup.MinHashLSH.boundedBucketPairs(
        bucketed.select(col("table"), col("bucket"), col("id").as("e")),
        Seq("table", "bucket"), maxBucket)
      .select(col("p").as("a"), col("q").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // directed candidates, exact cosine re-rank. r7: one explode emits both
    // orientations — the union form re-executed the whole candidate subtree
    // (kernel + distinct final agg) once per branch.
    val directedAll = cand
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
    val directed =
      if (queryIds.isEmpty) directedAll
      else directedAll.filter(col("a").isInCollection(queryIds))
    val va = emb.select(col(idCol).as("a"), col(vecCol).as("va"))
    val vb = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    val sims = directed.join(va, "a").join(vb, "b")
      .select(col("a").as("qid"), col("b").as("nbr"),
        round(gf.cosine(col("va"), col("vb")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nbr").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
