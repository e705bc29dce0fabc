package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{PortableHash, TopK}

/** Vector-similarity operators over an `array<float>` embedding column:
  * brute-force cosine top-k (the exact baseline) and a random-hyperplane
  * LSH-bucketed variant (the scale path). Extension scope beyond the
  * reference; first-class 100 TB components.
  *
  * Scale design:
  *   - Dot products / norms are higher-order `aggregate`/`zip_with`
  *     expressions — codegen'd, columnar, no UDF boundary.
  *   - Brute force is queries × corpus: correct answer, O(Q·N) — only for
  *     small Q (broadcast the queries) or small blocks.
  *   - LSH: each vector maps to a sign-bucket (one projection against
  *     `numPlanes` fixed hyperplanes); candidates co-group by bucket, so
  *     the join is a hash-shuffle on the bucket key, O(N) rows. Recall is
  *     tunable via numPlanes / multi-probe; the operator is the plumbing.
  *   - Arithmetic is double-precision throughout — empirically bit-exact
  *     against DuckDB's `list_*` double pipeline, so oracles can compare
  *     similarity values directly.
  */
object VectorSimilarity {

  /** Σ a_i · b_i in double precision (left-to-right, portable). Native
    * kernel ([[org.apache.spark.sql.graft.VectorKernels]]) — bit-identical
    * to the zip_with/aggregate fold it replaces, without the interpreted
    * per-element lambda churn (guide §1.2 per-task work). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorKernels.dotDCol(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Rank a scored candidate frame (query_id, neighbor_id, `scoreName`) to
    * per-query top-k via the bounded-heap [[TopK]] aggregate: each task
    * keeps k pairs per query and partials merge MAP-SIDE, so the shuffle
    * carries O(queries · k) rows — never a per-query window that routes
    * every candidate through a single reducer (the 100 TB scale-killer on
    * the unbounded-candidate scans). Tie-break identical to the window
    * version: score (desc for similarities, asc for distances), then
    * neighbor id asc. Returns (query_id, rank, neighbor_id, scoreName).
    */
  private def rankTopK(scored: DataFrame, scoreName: String, k: Int,
                       asc: Boolean): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopK.topK(col(scoreName), col("neighbor_id"), k, asc).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), (col("__pos") + 1).cast("long").as("rank"),
        col("__e._2").as("neighbor_id"), col("__e._1").as(scoreName))

  /** Tile a corpus-side frame so the O(N·Q·dim) scoring scan runs as
    * `defaultParallelism` tasks instead of a handful: corpus scans can
    * arrive as a few huge unsplittable single-row-group parquet files, and
    * the broadcast nested-loop scoring of a brute-force/ADC top-k then
    * runs as one multi-minute task per file while every other core idles
    * (guide §2.5 — input skew from unsplittable files; repartition right
    * after the read). DOUBLE-GATED so it only fires when it can win:
    *   - no-op when the scan already has ≥ defaultParallelism partitions
    *     (any healthy layout at scale);
    *   - no-op when the corpus is small (< 16 MB of estimated scan bytes
    *     per target task): measured at bench scale, the round-robin
    *     exchange + 32-task scheduling cost MORE than the single-task scan
    *     it replaced (the family is fixed-overhead-bound there, and the
    *     independent scoring stages already overlap across methods under
    *     AQE) — the tile only pays off when per-task work dominates.
    * Results are unchanged either way: scoring is per-row arithmetic and
    * the bounded [[graft.functions.TopK]] aggregate is
    * arrival-order-insensitive (exact comparisons on identical doubles).
    */
  private def tiled(corpus: DataFrame): DataFrame = {
    val target = corpus.sparkSession.sparkContext.defaultParallelism
    val minBytesPerTask = 16L * 1024 * 1024
    val estBytes = BigInt(corpus.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
    if (estBytes < BigInt(minBytesPerTask) * target ||
        corpus.rdd.getNumPartitions >= target) corpus
    else corpus.repartition(target)
  }

  /** Exact top-k neighbors by cosine for each row of `queries` against all
    * of `corpus` (self-matches on equal ids excluded). Returns
    * (query_id, rank, neighbor_id, cosine). `queries` should be small —
    * Catalyst broadcasts it against the corpus scan.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = tiled(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")))
    // corpus on the stream side, queries explicitly broadcast: the
    // nested-loop join must never build the (arbitrarily large) corpus —
    // without the hint Spark picks the build side from size stats, which
    // flips wrong when the corpus is the smaller-looking relation.
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    rankTopK(scored, "cosine", k, asc = false)
  }

  /** Exact inner-product (MIPS) top-k — the float ground truth the
    * quantized scan ([[int8TopK]]) approximates; same broadcast-queries /
    * bounded-heap shape as [[bruteForceTopK]]. */
  def bruteForceTopKIp(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = tiled(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("__qv"), col("__cv")))
    rankTopK(scored, "score", k, asc = false)
  }

  /** Approximate inner-product top-k over int8-QUANTIZED vectors — the
    * compressed-scoring scan for a pre-quantized embedding store
    * ([[quantizeInt8]]'s 4× storage/IO cut): the dot product runs on the
    * integer codes (EXACT integer arithmetic — no float-order hazards),
    * and the two max-abs scales de-quantize the score
    * (`int_dot · s_a · s_b / 127²`). At 100 TB this is the scan that reads
    * a quarter of the bytes per candidate; compose with [[ivfAssign]] to
    * bound candidates too. Same broadcast-queries / bounded-heap shape as
    * [[bruteForceTopK]]. Returns (query_id, rank, neighbor_id, score).
    */
  def int8TopK(corpusQ: DataFrame, queriesQ: DataFrame, idCol: String,
               qCol: String, scaleCol: String, k: Int): DataFrame = {
    val q = queriesQ.select(col(idCol).as("query_id"), col(qCol).as("__qv"),
      col(scaleCol).as("__qs"))
    val c = tiled(corpusQ.select(col(idCol).as("neighbor_id"), col(qCol).as("__cv"),
      col(scaleCol).as("__cs")))
    val intDot =
      org.apache.spark.sql.graft.VectorKernels.dotLCol(col("__qv"), col("__cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        intDot.cast(DoubleType) * ((col("__qs") * col("__cs")) / lit(16129.0)))
    rankTopK(scored, "score", k, asc = false)
  }

  /** Σ (a_i − b_i)² in double precision (left-to-right, portable) — the
    * exact-L2 twin of [[cosine]], the ground-truth metric for ADC audits.
    * Native kernel, bit-identical to the zip_with/aggregate fold. */
  def l2Dist2(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorKernels.l2DCol(a, b)

  /** Exact top-k by SQUARED L2 — the ground truth [[pqTopK]]'s asymmetric
    * distances approximate (PQ is an L2 construction; auditing it against
    * the cosine baseline would mix metrics). Same shape as
    * [[bruteForceTopK]]: queries broadcast, bounded-heap ranking. */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = tiled(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", l2Dist2(col("__qv"), col("__cv")))
    rankTopK(scored, "dist", k, asc = true)
  }

  /** Recall@k audit: for each (method, approx, exact) triple — both frames
    * shaped (query_id, rank, neighbor_id, …) — count how many of the exact
    * top-k pairs the approximate index recovered. Returns one row per
    * method: (method, n_queries, n_exact, n_hits, recall_ppm), all exact
    * integers (recall_ppm = hits · 10⁶ DIV exact — no doubles, so the
    * audit is oracle-checkable bit-for-bit). This is the user-runnable
    * "is my ANN index good enough" check: at 100 TB it runs on a query
    * SAMPLE, and every per-method input is the already-bounded top-k
    * output, so the audit cost is O(queries · k) rows per method.
    */
  def recallAudit(entries: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    require(entries.nonEmpty, "no methods to audit")
    // Every input frame is an already-bounded top-k OUTPUT — O(queries · k)
    // rows by the class contract — so the audit arithmetic runs on the
    // driver over collected pairs (the guide-§5 small-side transfer), with
    // three wins over the previous one-big-plan formulation:
    //   1. each DISTINCT frame is evaluated exactly ONCE (reference
    //      identity — exact baselines shared by several methods evaluate
    //      once, not once per consumer: the lazy plan re-ran the exact
    //      cosine brute force 8× in q_knn_recall, and persisting instead
    //      was measured SLOWER because cached plans freeze without AQE
    //      coalescing, exploding the suite's task count);
    //   2. the evaluations are INDEPENDENT jobs submitted from a small
    //      thread pool (guide §2.6), so the per-method scoring stages
    //      overlap on idle cores instead of serializing;
    //   3. the hit/total counting is exact integer arithmetic on the
    //      collected pairs — join-count semantics reproduced verbatim
    //      (Σ over matching keys of countApprox · countExact, nulls never
    //      matching), so results are bit-identical to the plan version.
    val frames = entries.flatMap(e => Seq(e._2, e._3))
    val ordered = {
      val seen = new java.util.IdentityHashMap[DataFrame, Boolean]()
      frames.filter(f => seen.put(f, true) == null)
    }
    val collected = new java.util.IdentityHashMap[DataFrame, Array[(Any, Any)]]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(ordered.size, 8))
    try {
      val futures = ordered.map { f =>
        f -> pool.submit(new java.util.concurrent.Callable[Array[(Any, Any)]] {
          override def call(): Array[(Any, Any)] =
            f.select(col("query_id"), col("neighbor_id")).collect()
              .map(r => (r.get(0), r.get(1)))
        })
      }
      futures.foreach { case (f, fut) => collected.put(f, fut.get()) }
    } finally pool.shutdown()
    val rows = entries.map { case (method, approx, exact) =>
      val ep = collected.get(exact)
      val ap = collected.get(approx)
      val nQueries = ep.iterator.map(_._1).filter(_ != null).toSet.size.toLong
      val nExact = ep.length.toLong
      // inner-join count on (query_id, neighbor_id): null keys never match
      def counts(ps: Array[(Any, Any)]): Map[(Any, Any), Long] =
        ps.iterator.filter(p => p._1 != null && p._2 != null)
          .foldLeft(Map.empty[(Any, Any), Long]) { (m, p) =>
            m.updated(p, m.getOrElse(p, 0L) + 1L) }
      val ec = counts(ep)
      val nHits = counts(ap).iterator
        .map { case (k, ca) => ca * ec.getOrElse(k, 0L) }.sum
      // greatest guards the degenerate empty-baseline case (reports 0)
      val recallPpm = nHits * 1000000L / math.max(nExact, 1L)
      org.apache.spark.sql.Row(method, nQueries, nExact, nHits, recallPpm)
    }
    val spark = entries.head._2.sparkSession
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("method", StringType, nullable = false),
      StructField("n_queries", LongType, nullable = false),
      StructField("n_exact", LongType, nullable = false),
      StructField("n_hits", LongType, nullable = false),
      StructField("recall_ppm", LongType, nullable = true))))
  }

  /** Sign-LSH bucket id: bit j set iff v · hyperplane_j > 0. The planes are
    * deterministic ([[PortableHash.hyperplane]]); the same literals embed
    * in the oracle SQL.
    */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int): Column =
    (0 until numPlanes).map { j =>
      val plane = PortableHash.hyperplane(j, dim)
      val d = dot(vec, typedLit(plane))
      when(d > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed top-k: like [[bruteForceTopK]] but candidates are only
    * corpus vectors in the query's bucket — the O(N) scale path.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), numPlanes, dim).as("__bucket"))
    val c = tiled(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), numPlanes, dim).as("__bucket"))
    val scored = q.join(c, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    rankTopK(scored, "cosine", k, asc = false)
  }

  /** Multi-probe LSH top-k: each query searches its own sign-bucket PLUS
    * every bucket at Hamming distance 1 (one hyperplane sign flipped) —
    * the classic recall fix for vectors that sit near a hyperplane and
    * land one bit away from their neighbors (Lv et al. 2007, "Multi-Probe
    * LSH"). Candidate volume grows by ≤ (numPlanes + 1)× on the QUERY side
    * only; the corpus still lives in one bucket each, so the probe buckets
    * are distinct and no candidate pair duplicates. Same O(N) bucket-join
    * scale shape as [[lshTopK]], trading probe fan-out for recall instead
    * of adding hash tables (which would grow corpus state numPlanes×).
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val c = tiled(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), numPlanes, dim).as("__bucket"))
    val b0 = lshBucket(col(vecCol), numPlanes, dim)
    val probes = array(b0 +: (0 until numPlanes).map(j => b0.bitwiseXOR(lit(1L << j))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(probes).as("__bucket"))
    val scored = q.join(c, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    rankTopK(scored, "cosine", k, asc = false)
  }

  /** Max-abs symmetric int8 quantization of an embedding column — the
    * storage-compression step of a large-scale embedding store (4× smaller
    * than float32; distance computations dequantize per block). Per vector:
    * scale = max |x_i|; q_i = floor(x_i · 127 / scale) ∈ [−127, 127]
    * (zero vectors quantize to zeros, scale 0). One projection — codegen,
    * no shuffle, scan-speed over 100 TB. floor (not round/cast) keeps the
    * result bit-identical across engines: round ties and cast truncation
    * rules differ, floor of the identical double does not.
    * Emits `<vecCol>_q` (array<long>) and `<vecCol>_scale` (double).
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast(DoubleType))))
    val q = when(maxAbs === 0.0,
        transform(col(vecCol), _ => lit(0L)))
      .otherwise(transform(col(vecCol),
        x => floor(x.cast(DoubleType) * lit(127.0) / maxAbs).cast("long")))
    df.withColumn(s"${vecCol}_q", q).withColumn(s"${vecCol}_scale", maxAbs)
  }

  /** Train IVF centroids with spark-mllib KMeans (k-means|| init, seeded —
    * deterministic for a fixed dataset + partitioning). Returns the k
    * cluster centers sorted lexicographically (canonical order, so centroid
    * ids are reproducible regardless of mllib's internal init order).
    * Training cost is the usual KMeans O(iters · N · k) — run it on a
    * deterministic sample for a 100 TB corpus; the index quality, not
    * correctness, is what the sample size buys.
    */
  def trainIvfCentroids(df: DataFrame, vecCol: String, k: Int,
                        seed: Long = 7L, maxIter: Int = 20): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.types.{ArrayType, DoubleType => DT}
    val feats = df.select(
      array_to_vector(col(vecCol).cast(ArrayType(DT))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").fit(feats)
    def lexLt(a: Array[Double], b: Array[Double]): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        if (a(i) != b(i)) return a(i) < b(i)
        i += 1
      }
      a.length < b.length
    }
    model.clusterCenters.map(_.toArray).sortWith(lexLt)
  }

  /** Centroid array constants → a (cid, cv) DataFrame for [[ivfTopK]]. */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                    centroids: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("cid", "cv")
  }

  /** Centroids collected to driver literals, sorted by id — the centroid
    * table is small by contract (k-means output; broadcast-sized), so the
    * collect is O(k) and the centroids embed as constants in a codegen
    * projection instead of riding a join.
    */
  private def collectCentroids(centroids: DataFrame, cIdCol: String,
                               cVecCol: String): Seq[(Long, Seq[Double])] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType => DT}
    val rows = centroids
      .select(col(cIdCol).cast("long"), col(cVecCol).cast(ArrayType(DT)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    require(rows.nonEmpty, "centroid table is empty")
    rows.sortBy(_._1).toSeq
  }

  /** The k cosines of `vec` against the centroid set as ONE cosine tree
    * over a NESTED array literal — `transform(centroids, cv → cos(vec,
    * cv))` — not k inlined per-centroid trees. Expression size is O(1) in
    * k: with k inlined trees, plan analysis and first-run compilation grow
    * linearly in the centroid count (measured ~3× on q_dedup_semdedup at
    * k = 8; a production k = 1000 would be catastrophic), while the data
    * volume is identical. Fold order per centroid is unchanged, so the
    * cosines are bit-identical to the unrolled form. */
  private def centroidSims(vec: Column,
                           cents: Seq[(Long, Seq[Double])]): Column =
    transform(typedLit(cents.map(_._2)), cv => cosine(vec, cv))

  /** Assign each vector to its nearest centroid by cosine (ties → lowest
    * centroid id): the IVF partition step. The centroids embed as LITERALS
    * in one codegen projection — k cosines per row, argmin via
    * `array_position(array_max)` (the [[pqEncode]] pattern) — so the
    * assignment is shuffle-free: nearest-centroid is embarrassingly
    * parallel and at 100 TB runs at scan speed with zero exchanges.
    * `probes > 1` (query-side multi-probe) sorts the (−cosine, cid) struct
    * array and explodes the first `probes` entries — still one projection.
    * Tie order matches the assignment everywhere: cosine desc, cid asc.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cIdCol: String, cVecCol: String,
                probes: Int = 1): DataFrame = {
    require(probes >= 1, s"probes must be >= 1: $probes")
    val cents = collectCentroids(centroids, cIdCol, cVecCol)
    val sims = centroidSims(col(vecCol), cents)
    val cids = typedLit(cents.map(_._1))
    if (probes == 1) {
      // array_position returns the FIRST index holding the max, and the
      // centroids are sorted by id — ties resolve to the lowest centroid id,
      // the same order the probed path (and the oracle SQL) uses. The
      // k-cosine array is LET-BOUND (single-element transform): it appears
      // twice in the argmin, and lambda-bearing cosine trees are outside
      // Spark's subexpression elimination — unbound, every row would
      // compute the k×dim arithmetic twice.
      df.withColumn("cluster_id",
        element_at(transform(array(sims), s =>
          element_at(cids, array_position(s, array_max(s)).cast("int"))), 1))
    } else {
      // (−cosine, cid) sorts ascending == (cosine desc, cid asc); the fold
      // accumulator starts at +0.0 so a zero dot product is +0.0, never
      // −0.0 — negation cannot invent a sign-of-zero ordering difference.
      val entries = zip_with(sims, cids,
        (s, c) => struct((-s).as("negSim"), c.as("cid")))
      val probed = slice(array_sort(entries), 1, probes)
      df.withColumn("cluster_id", explode(transform(probed, e => e("cid"))))
    }
  }

  /** [[ivfAssign]] (single probe) that also emits `centroid_cosine` — the
    * cosine to the ASSIGNED centroid — in the same shuffle-free projection,
    * for callers that would otherwise join the centroid table back just to
    * recompute it ([[clusterProfile]], [[semDeDup]]).
    */
  def ivfAssignWithSim(df: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, cIdCol: String,
                       cVecCol: String): DataFrame = {
    val cents = collectCentroids(centroids, cIdCol, cVecCol)
    val sims = centroidSims(col(vecCol), cents)
    val cids = typedLit(cents.map(_._1))
    // the k-cosine array is let-bound inside each output expression, so a
    // row pays one sims evaluation PER EMITTED COLUMN (2 total — projection
    // collapse inlines the struct into each field reference) instead of the
    // 3 an unbound argmin+max would cost
    val assigned = element_at(transform(array(sims), s => struct(
      element_at(cids, array_position(s, array_max(s)).cast("int")).as("cid"),
      array_max(s).as("ccos"))), 1)
    df.withColumn("__asg", assigned)
      .withColumn("cluster_id", col("__asg.cid"))
      .withColumn("centroid_cosine", col("__asg.ccos"))
      .drop("__asg")
  }

  /** IVF top-k: queries search their `nprobe` nearest clusters (corpus
    * vectors live in exactly one, so probes can't duplicate candidates).
    * The candidate join shuffles on cluster_id — O(N·nprobe/centroids)
    * candidate rows, the inverted-file scale path; recall grows with the
    * centroid count and nprobe.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, centroids: DataFrame, cIdCol: String,
              cVecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    // query and corpus assignment share ivfAssign so the centroid tie-break
    // ordering can never diverge between the two sides
    val q = ivfAssign(queries, idCol, vecCol, centroids, cIdCol, cVecCol, probes = nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cluster_id"))
    val c = ivfAssign(tiled(corpus), idCol, vecCol, centroids, cIdCol, cVecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv2"), col("cluster_id"))
    val scored = q.join(c, Seq("cluster_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv2")))
    rankTopK(scored, "cosine", k, asc = false)
  }

  // ---- product quantization (PQ) ----------------------------------------

  /** Train a PQ codebook: split the `dim`-dimensional space into `m`
    * contiguous subspaces of dim/m dims and k-means each independently
    * (seeded, canonical centroid order — [[trainIvfCentroids]] per
    * subspace). Returns codebooks(m)(cid)(i): m subspaces × ksub centroids
    * × dim/m components. Like IVF centroids, a codebook is trained once
    * (on a deterministic sample at 100 TB) and frozen; encode/search
    * correctness never depends on the training snapshot, only recall does.
    */
  def trainPqCodebooks(df: DataFrame, vecCol: String, m: Int, ksub: Int,
                       seed: Long = 7L): Seq[Seq[Seq[Double]]] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    (0 until m).map { mi =>
      val slice_ = df.select(
        slice(col(vecCol), mi * sub + 1, sub).as("__sv"))
      trainIvfCentroids(slice_, "__sv", ksub, seed = seed + mi)
        .map(_.toSeq).toSeq
    }
  }

  /** Squared L2 distance between the `mi`-th subvector of `vec` and a
    * sub-centroid array column — a left fold over zip_with, the same
    * association the oracle's `list_sum(list_transform(...))` computes
    * (the pairing every cosine oracle query already proves bit-exact). */
  private def subDist2(vec: Column, mi: Int, sub: Int, cent: Column): Column =
    org.apache.spark.sql.graft.VectorKernels.l2DOffCol(vec, mi * sub, cent)

  /** PQ-encode: per subspace, the id of the nearest sub-centroid by squared
    * L2 (ties → lowest centroid id). PQ is an L2 construction: squared L2
    * decomposes across subspaces (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"), cosine does not — callers wanting
    * cosine semantics L2-normalize vectors first. Emits `<vecCol>_code`
    * (array<long>, one code per subspace): dim · 8 bytes of float32 become
    * m · log2(ksub) bits — the 100 TB embedding store compression step.
    * Pure unrolled projection: codegen, no shuffle, scan-speed.
    */
  def pqEncode(df: DataFrame, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codes = (0 until m).map { mi =>
      val dists = array(codebooks(mi).map(c =>
        subDist2(col(vecCol), mi, sub, typedLit(c))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("long")
    }
    df.withColumn(s"${vecCol}_code", array(codes: _*))
  }

  /** PQ top-k by asymmetric distance (ADC): the query stays exact, each
    * corpus vector is its code, and the approximate distance is
    * Σ_m ‖q_m − codebook[m][code_m]‖² — m constant-array lookups + one
    * unrolled polynomial per candidate instead of a dim-wide dot product
    * against uncompressed floats. Returns (query_id, rank, neighbor_id,
    * adist), rank 1 = nearest, ties → lowest neighbor id. This is the ADC
    * scan over the full corpus (queries broadcast); at 100 TB compose with
    * [[ivfAssign]] to prune candidates to probed clusters first (IVF-PQ) —
    * the scoring here is oblivious to how candidates were selected.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    // tile BEFORE the encode so the per-vector m×ksub sub-distance argmin
    // parallelizes too, not just the ADC scoring
    val c = pqEncode(tiled(corpus), vecCol, codebooks)
      .select(col(idCol).as("neighbor_id"), col(s"${vecCol}_code").as("__code"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcDist(col("__qv"), col("__code"), codebooks))
    rankTopK(scored, "adist", k, asc = true)
  }

  /** ADC distance of exact query `qv` to the corpus vector represented by
    * PQ `code`: Σ_m ‖q_m − codebook[m][code_m]‖². */
  private def adcDist(qv: Column, code: Column,
                      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    (0 until m).map { mi =>
      val cent = element_at(element_at(cbLit, mi + 1),
        (element_at(code, mi + 1) + 1).cast("int"))
      subDist2(qv, mi, sub, cent)
    }.reduce(_ + _)
  }

  /** IVF-PQ top-k: the inverted file prunes candidates (queries probe
    * their `nprobe` nearest clusters by cosine, corpus vectors live in
    * their single nearest), PQ scores them by ADC squared-L2 against the
    * compressed codes — the standard billion-scale ANN composition (Jégou
    * et al. 2011): candidate volume O(N·nprobe/centroids) from IVF, per-
    * candidate cost m code lookups from PQ, corpus storage m codes per
    * vector. Returns (query_id, rank, neighbor_id, adist). The cluster
    * metric (cosine) and scoring metric (L2) are independent knobs;
    * L2-normalize vectors first when full cosine semantics matter.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, centroids: DataFrame, cIdCol: String,
                cVecCol: String, codebooks: Seq[Seq[Seq[Double]]], k: Int,
                nprobe: Int = 1): DataFrame = {
    val c = ivfAssign(pqEncode(tiled(corpus), vecCol, codebooks), idCol, vecCol,
        centroids, cIdCol, cVecCol)
      .select(col(idCol).as("neighbor_id"), col(s"${vecCol}_code").as("__code"),
        col("cluster_id"))
    val q = ivfAssign(queries, idCol, vecCol, centroids, cIdCol, cVecCol,
        probes = nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cluster_id"))
    val scored = q.join(c, Seq("cluster_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcDist(col("__qv"), col("__code"), codebooks))
    rankTopK(scored, "adist", k, asc = true)
  }

  /** Embedding near-dup pairs: (id_a < id_b) with cosine ≥ threshold,
    * candidates bucketed by sign-LSH (near-identical vectors share a
    * bucket with high probability). Returns (id_a, id_b, cosine).
    * Buckets larger than `maxBucket` are capped to star edges
    * ([[Dedup.guardedBucketPairs]]) — the guard against a dup-heavy corpus
    * (1M copies of one embedding share a bucket) going quadratic.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int, dim: Int,
                         maxBucket: Int = 4096): DataFrame = {
    // cached: the bucket census, candidate join branches, and the
    // per-candidate vector join-back all consume it; the bucket projection
    // (numPlanes dot products per vector) would otherwise run repeatedly.
    // Norms are precomputed PER VECTOR here (N folds), not per candidate
    // pair (2·|pairs| folds): the pair verify becomes one dot product —
    // dot/(na·nb) is the identical arithmetic and association cosine()
    // computes, so the values are bit-unchanged.
    val withB = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      lshBucket(col(vecCol), numPlanes, dim).as("__bucket"),
      norm(col(vecCol)).as("__nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates carry only (bucket, id); vectors join back per surviving
    // candidate pair instead of riding both sides of the self-join
    // dedup=false: each vector lives in exactly one sign bucket, so the
    // candidate pairs are already unique — no distinct shuffle needed
    val (candidates, guardCaches) = Dedup.guardedBucketPairs(
      withB.select(col("__bucket"), col("__id")), Seq("__bucket"), "__id",
      maxBucket, dedup = false)
    val vecs = withB.select(col("__id"), col("__v"), col("__nrm"))
    val pairs = candidates
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("__va"),
        col("__nrm").as("__na")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), Seq("id_b"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    Dedup.materializeAndRelease(pairs, withB +: guardCaches: _*)
  }

  /** TWO-FRAME embedding near-dup: cosine ≥ threshold pairs between a NEW
    * batch (or benchmark) and an existing corpus — the semantic twin of
    * [[graft.operators.Dedup.minHashPairsAgainst]]. This is the shape of
    * the two most common embedding-dedup calls at 100 TB: semantic
    * benchmark decontamination (benchmark embeddings vs the training
    * corpus) and incremental ingest dedup (arriving batch vs corpus) —
    * both previously forced through the corpus×corpus self-join of
    * [[cosineNearDupPairs]] on a unioned frame.
    *
    * The corpus NEVER self-joins: candidates are batch-bucket ×
    * corpus-bucket only, so per-batch cost is O(batch + corpus) bucket
    * rows + the candidate verification, independent of corpus pair
    * density. Hot corpus buckets (> maxBucket vectors — the mass-duplicate
    * cluster case) are capped to their MINIMUM-id member, so a batch
    * vector colliding with such a cluster still links to the cluster's
    * canonical vector (the recall contract of
    * [[graft.operators.Dedup.guardedBucketPairs]]).
    *
    * Returns (new_id, corpus_id, cosine), threshold-verified exactly.
    *
    * `excludeSameId` (default true) drops candidate pairs whose batch id
    * EQUALS the corpus id — correct when the two frames share an id space
    * (incremental ingest re-presenting known rows must not self-pair).
    * When the id spaces are UNRELATED (benchmark decontamination with its
    * own numbering), a coincidental collision would silently suppress a
    * genuine near-dup — pass excludeSameId = false, or renumber one side
    * disjointly (as q_decontaminate_semantic does with its +100000 offset).
    */
  def cosineNearDupPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                threshold: Double, numPlanes: Int, dim: Int,
                                maxBucket: Int = 4096,
                                excludeSameId: Boolean = true): DataFrame = {
    // per-vector norms precomputed in the cached projection (N folds, not
    // 2·|pairs|): the verify is one dot product, bit-identical to cosine()
    def bucketed(d: DataFrame): DataFrame =
      d.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        lshBucket(col(vecCol), numPlanes, dim).as("__bucket"),
        norm(col(vecCol)).as("__nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newB = bucketed(newDf)
    val corpusB = bucketed(corpus)
    // hot-bucket census on the CORPUS side only: bounded by rows/maxBucket
    // keys, so Catalyst broadcasts it into the guard join
    val hot = corpusB.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__bc"), min(col("__id")).as("__bmin"))
      .where(col("__bc") > maxBucket)
    val guardedCorpus = corpusB.join(hot, Seq("__bucket"), "left")
      .where(col("__bc").isNull || col("__id") === col("__bmin"))
      .select(col("__bucket"), col("__id"))
    // candidates carry only (bucket, id); vectors join back per surviving
    // candidate. Each vector lives in exactly ONE sign bucket, so the
    // candidate set is already distinct — no dedup shuffle.
    val candidates = newB.select(col("__bucket"), col("__id").as("new_id"))
      .join(guardedCorpus.select(col("__bucket"), col("__id").as("corpus_id")),
        Seq("__bucket"))
      .where(if (excludeSameId) col("new_id") =!= col("corpus_id") else lit(true))
      .select("new_id", "corpus_id")
    val pairs = candidates
      .join(newB.select(col("__id").as("new_id"), col("__v").as("__va"),
        col("__nrm").as("__na")), Seq("new_id"))
      .join(corpusB.select(col("__id").as("corpus_id"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), Seq("corpus_id"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select("new_id", "corpus_id", "cosine")
    Dedup.materializeAndRelease(pairs, newB, corpusB)
  }

  /** Per-cluster corpus profile over an IVF assignment: member count and
    * centroid-cosine distribution (exported on the exact e9 integer domain
    * so sums are order-free). The shape of the "how balanced is my
    * clustering / which semantic regions dominate the corpus" audit that
    * precedes a SemDeDup or curriculum-sampling run. One broadcast
    * projection + one partial-aggregating shuffle on cluster_id.
    */
  def clusterProfile(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, cIdCol: String,
                     cVecCol: String): DataFrame = {
    // assignment + assigned-centroid cosine in ONE shuffle-free projection
    val withSim = ivfAssignWithSim(df, idCol, vecCol, centroids, cIdCol, cVecCol)
      .withColumn("__ccos_e9", PortableHash.e9(col("centroid_cosine")))
    withSim.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("__ccos_e9")).as("sum_ccos_e9"),
        min(col("__ccos_e9")).as("min_ccos_e9"),
        max(col("__ccos_e9")).as("max_ccos_e9"))
  }

  // ---- SemDeDup (cluster-scoped semantic dedup) --------------------------

  /** SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): every vector is
    * assigned to its nearest k-means centroid ([[ivfAssign]] — a broadcast
    * projection, no corpus shuffle) and near-dup pairs are searched ONLY
    * within a cluster. The self-join shuffles on `cluster_id`, so candidate
    * volume is Σ|cluster|² — bounded by the k-means granularity (the paper
    * uses k ≈ N/10⁴; at 100 TB the centroid count, not the corpus, sets the
    * join size). Clusters above `maxCluster` rows collapse to star edges
    * around their minimum-id member ([[Dedup.guardedBucketPairs]]), the
    * same mass-duplicate guard as the sign-LSH path.
    *
    * Versus [[cosineNearDupPairs]] (sign-LSH buckets): LSH recall is
    * probabilistic per-pair; SemDeDup recall follows the cluster structure
    * — semantically coherent regions are compared exhaustively, which is
    * why the paper prefers it for web-scale semantic (not just cosmetic)
    * duplicates. Returns (id_a < id_b, cosine ≥ threshold, cluster_id).
    */
  def semDeDupPairs(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cIdCol: String, cVecCol: String,
                    threshold: Double, maxCluster: Int = 4096): DataFrame = {
    // norms precomputed per vector in the cached assignment (N folds, not
    // 2·|pairs|): the per-pair verify is one dot product — dot/(na·nb) is
    // cosine()'s identical arithmetic, bit-unchanged
    val asg = ivfAssign(df, idCol, vecCol, centroids, cIdCol, cVecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("cluster_id"),
        norm(col(vecCol)).as("__nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each vector lives in exactly one cluster → candidates already unique
    val (candidates, guardCaches) = Dedup.guardedBucketPairs(
      asg.select(col("cluster_id"), col("__id")), Seq("cluster_id"), "__id",
      maxCluster, dedup = false)
    // id_a and id_b share a cluster by construction — take it from the a side
    val pairs = candidates
      .join(asg.select(col("__id").as("id_a"), col("__v").as("__va"),
        col("__nrm").as("__na"), col("cluster_id")), Seq("id_a"))
      .join(asg.select(col("__id").as("id_b"), col("__v").as("__vb"),
        col("__nrm").as("__nb")), Seq("id_b"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine", "cluster_id")
    Dedup.materializeAndRelease(pairs, asg +: guardCaches: _*)
  }

  /** Full SemDeDup action with the paper's keep rule: connected components
    * over [[semDeDupPairs]], and within every duplicate group keep the
    * member with the LOWEST cosine to its assigned centroid (the "farthest
    * from the cluster center" representative — the paper's choice, which
    * preferentially keeps the least prototypical, most informative example;
    * ties → lowest id). Singletons always survive.
    *
    * Scale shape: pairs as above; components via
    * [[Dedup.connectedComponentsAuto]] (driver union-find under
    * `maxDriverEdges`, the distributed large-star/small-star rounds past
    * it); the final keep is one window over (component) on the component
    * members only — the corpus never shuffles on the fast path.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, cIdCol: String, cVecCol: String,
               threshold: Double, maxCluster: Int = 4096,
               maxDriverEdges: Int = 10_000_000): DataFrame = {
    val pairs = semDeDupPairs(df, idCol, vecCol, centroids, cIdCol, cVecCol,
      threshold, maxCluster)
    val comps = Dedup.connectedComponentsAuto(df.select(col(idCol)), idCol,
      pairs, maxDriverEdges)
    // centroid similarity of each vector's ASSIGNED centroid — emitted by
    // the same shuffle-free assignment projection, no centroid re-join
    val withSim = ivfAssignWithSim(df, idCol, vecCol, centroids, cIdCol, cVecCol)
      .withColumnRenamed("centroid_cosine", "__ccos")
    val labeled = withSim.join(
      comps.select(col("id").as(idCol), col("comp").as("__comp")), Seq(idCol))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col("__ccos").asc, col(idCol).asc)
    val out = labeled.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__comp")
      .withColumnRenamed("__ccos", "centroid_cosine")
    // comps may be a cached labels frame (distributed-components path) —
    // release it with the pairs once the result is materialized
    Dedup.materializeAndRelease(out, pairs, comps)
  }
}
