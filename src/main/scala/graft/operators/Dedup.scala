package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.PortableHash
import graft.functions.PortableHash.P

/** Deduplication operators for training-data pipelines — exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup. Extension scope beyond the
  * reference (no dedup of any kind in easy-etl); first-class 100 TB
  * components:
  *
  *   - Exact dedup is one hash-shuffle on the dedup key (map-side partial
  *     aggregation; no driver state).
  *   - MinHash+LSH is the scale path for near-dup: per-doc signatures are
  *     a single projection (no shuffle); candidate generation shuffles
  *     (band, value) pairs — O(docs × bands) rows, NOT O(docs²); only
  *     candidates pay the exact-Jaccard verification join.
  *   - Pairwise n-gram Jaccard is the exact-but-quadratic baseline; keep it
  *     for small blocks / validation of the LSH recall.
  *   - SimHash packs a doc into one 60-bit int; near-dups are pairs at
  *     Hamming distance ≤ τ found by banding (pigeonhole: any pair at
  *     distance ≤ bands−1 agrees on at least one whole band).
  *
  * All hashes are [[PortableHash]]-based so the DuckDB oracle reproduces
  * results bit-for-bit.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Persist + eagerly materialize `result`, then unpersist the (large)
    * `intermediates` backing it — the pattern that keeps the big cached
    * inverted-index / signature relations from outliving the operator in a
    * long-running application (disk-spilled blocks are not LRU-evicted).
    * The returned DataFrame stays cached; its blocks are pair-sized (orders
    * of magnitude smaller than the intermediates) and callers that loop may
    * `unpersist()` the handle when done.
    *
    * Trade-off, deliberate: operators built on this are dedup ACTIONS —
    * they compute their complete pair set at call time, so a caller filter
    * applied afterwards no longer pushes into the candidate joins. For a
    * narrow lookup (pairs of one document), filter the corpus BEFORE the
    * operator instead; the all-pairs dedup workload this library targets
    * consumes the full result anyway.
    */
  private[operators] def materializeAndRelease(result: DataFrame,
                                               intermediates: DataFrame*): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist())
    out
  }

  /** Candidate (id_a < id_b) pairs from bucketed rows with a hot-bucket
    * guard. A bucket holding B rows normally contributes its B·(B−1)/2
    * within-bucket pairs via a self-equi-join on the bucket key; one key
    * shared by a large fraction of a dup-heavy corpus (the dedup use case —
    * e.g. one boilerplate page × 1M copies) would emit 10¹² join rows into
    * a single reducer. Any bucket larger than `maxBucket` therefore emits
    * only its B−1 STAR pairs — minimum id linked to every other member —
    * O(B) rows instead of O(B²). Capped buckets are logged with their
    * sizes; the non-star pairs of a capped bucket (and pairwise similarity
    * values between its non-canonical members) are not enumerated. Buckets
    * at or under the cap are exact.
    *
    * RECALL CAVEAT: candidates still pass the caller's similarity
    * verification, so a capped bucket's connectivity is preserved only
    * among members genuinely similar to the bucket MINIMUM. When a hot
    * bucket is one giant duplicate cluster (the case the guard targets),
    * the minimum is a cluster member and nothing is lost; when unrelated
    * docs merely collide on a bucket key, pairs between two non-minimum
    * members are not enumerated and can be missed. Size `maxBucket` above
    * the plausible collision size (the 4096 default ≫ any natural bucket
    * at the oracle scales) so capping only ever engages on true mass
    * duplication.
    *
    * Cost: one aggregate over the bucketed rows (the hot-key census — same
    * O(rows) shuffle class as the join itself) + the guarded self-join.
    * The census result is bounded by rows/maxBucket keys, so it collects
    * and broadcasts safely.
    */
  /** Returns (candidate pairs, caches the caller must release once the
    * pairs are materialized — the persisted census on the overflow path). */
  private[operators] def guardedBucketPairs(banded: DataFrame,
                                            bucketCols: Seq[String],
                                            idCol: String,
                                            maxBucket: Int,
                                            dedup: Boolean = true): (DataFrame, Seq[DataFrame]) = {
    require(maxBucket >= 1, s"maxBucket must be >= 1: $maxBucket")
    // dedup=false skips the distinct shuffle — only valid when each id
    // appears in at most one bucket (single-bucket schemes like sign-LSH)
    def maybeDistinct(p: DataFrame): DataFrame = if (dedup) p.distinct() else p
    val spark = banded.sparkSession
    val keyed = banded.select((bucketCols :+ idCol).map(col): _*)
    def selfJoin(src: DataFrame): DataFrame = {
      val a = src.select(bucketCols.map(col) :+ col(idCol).as("id_a"): _*)
      val b = src.select(bucketCols.map(col) :+ col(idCol).as("id_b"): _*)
      a.join(b, bucketCols).where(col("id_a") < col("id_b")).select("id_a", "id_b")
    }
    // persisted before the probe: on the overflow path the census feeds
    // the pair query again — without the cache the groupBy shuffle over
    // the banded rows would run twice
    val hot = keyed.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("__bc"), min(col(idCol)).as("__bmin"))
      .where(col("__bc") > maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the census result is bounded by rows/maxBucket keys — normally a
    // handful; cap the driver collect so a pathological corpus (millions
    // of hot buckets) can't flood the driver just to be logged
    val MaxCollectedHot = 100_000
    val hotRows = hot.limit(MaxCollectedHot + 1).collect()
    if (hotRows.isEmpty) {
      hot.unpersist()
      (maybeDistinct(selfJoin(keyed)), Nil)
    } else {
      val overflow = hotRows.length > MaxCollectedHot
      if (overflow)
        log.warn(s"guardedBucketPairs: over $MaxCollectedHot buckets exceed " +
          s"maxBucket=$maxBucket — star-capping all of them (sizes not enumerated)")
      else {
        val sizes = hotRows.map(_.getAs[Long]("__bc"))
        log.warn(s"guardedBucketPairs: ${hotRows.length} bucket(s) over maxBucket=$maxBucket " +
          s"capped to star edges (sizes max=${sizes.max} total=${sizes.sum}); " +
          "within-bucket pair enumeration skipped for these buckets")
      }
      // literal broadcast of the collected census when it fits; above the
      // cap, join against the census computation itself with no broadcast
      // hint — Catalyst shuffles on the bucket key, the same shuffle the
      // self-join pays anyway
      val flagged =
        if (overflow) keyed.join(hot, bucketCols, "left")
        else {
          val hotDf = spark.createDataFrame(
            spark.sparkContext.parallelize(hotRows.toIndexedSeq, 1),
            org.apache.spark.sql.types.StructType(
              bucketCols.map(c => keyed.schema(c)) :+
                org.apache.spark.sql.types.StructField("__bc", LongType) :+
                keyed.schema(idCol).copy(name = "__bmin")))
          keyed.join(broadcast(hotDf), bucketCols, "left")
        }
      val cold = selfJoin(
        flagged.where(col("__bc").isNull).select((bucketCols :+ idCol).map(col): _*))
      val star = flagged.where(col("__bc").isNotNull && col(idCol) =!= col("__bmin"))
        .select(col("__bmin").as("id_a"), col(idCol).as("id_b"))
      // non-overflow: the literal hotDf replaced the census in the plan, so
      // the cache has no further reader — release now. Overflow: the plan
      // reads `hot`; hand it back for release after materialization.
      if (overflow) (maybeDistinct(cold.union(star)), Seq(hot))
      else { hot.unpersist(); (maybeDistinct(cold.union(star)), Nil) }
    }
  }

  // ---- exact ------------------------------------------------------------

  /** Keep one row per distinct value of `keyCols`: the row with the minimal
    * `tieBreak` (deterministic). Single hash-shuffle on the key.
    *
    * The shuffle key is HASH-PREFIXED: a 60-bit portable hash of the
    * concatenated keys leads the window partition spec, and the raw key
    * columns follow it. Grouping is unchanged (the hash is a function of
    * the keys, so (h, keys) groups ≡ keys groups — a hash collision still
    * splits into its true key groups; equality is verified by
    * construction, never assumed), but every partition/sort comparison now
    * resolves on the 8-byte hash and touches the raw key bytes only when
    * hashes tie — i.e. on true duplicates. For document-text keys that
    * turns O(|doc|) comparisons into O(1) almost everywhere; the rows
    * still carry the text as payload (downstream stages read it), which
    * no keying scheme can avoid.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    val h = PortableHash.h60(concat_ws("\u0000", keyCols.map(col): _*))
    val w = Window.partitionBy((col("__kh") +: keyCols.map(col)): _*)
      .orderBy(col(tieBreak).asc)
    df.withColumn("__kh", h)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__kh")
  }

  // ---- shingling ---------------------------------------------------------

  /** Distinct word n-gram shingles of lowercased text (n ≥ 1). Shorter
    * texts yield their single partial shingle (never an empty array).
    */
  def shingles(text: Column, n: Int): Column = {
    // let-bind the token array via a single-element transform: a lambda
    // variable is a bound VALUE, so tokenization runs once per row.
    // Referencing `tokens(text)` inside the index lambda instead would
    // re-run the regex split once per shingle index — O(tokens²) regex
    // work per document (measured ~5× on the whole dedup family).
    element_at(transform(array(TextAnalysis.tokens(text)), ws =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(ws, i, lit(n)))))), 1)
  }

  /** Portable hashes of the distinct shingles (values < P). */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(transform(shingles(text, n), s => PortableHash.hmod(s)))

  /** Full-width (60-bit) portable hashes of the distinct shingles — the bit
    * source for SimHash, which consumes individual hash BITS and therefore
    * wants every bit md5 gives us, not the mod-P residue (31 bits). */
  def shingleHashes60(text: Column, n: Int): Column =
    array_distinct(transform(shingles(text, n), s => PortableHash.h60(s)))

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  // ---- n-gram Jaccard (exact, inverted-index) ----------------------------

  /** All pairs (idA < idB) with shingle-Jaccard ≥ `threshold` — EXACT, via
    * a PREFIX-FILTERED inverted index (the SSJoin/PPJoin family, Chaudhuri
    * et al. ICDE'06 / Xiao et al. WWW'08): with each doc's shingle-hash set
    * sorted in a global canonical order (the hash value), J(A,B) ≥ t forces
    * |A∩B| ≥ ⌈t·|A|⌉, so A and B must collide within their first
    * |d| − ⌈t·|d|⌉ + 1 elements — only those PREFIX hashes enter the
    * inverted index. The candidate join therefore costs
    * Σ_shingle (prefix-df)² instead of Σ df² (≈ (1−t)² of the full-index
    * cost), and surviving candidate pairs verify with one exact
    * set-intersection join-back. Lossless: the prefix bound is a theorem,
    * not a heuristic, and verification is exact — results are identical to
    * the all-pairs definition. The size-ratio prefilter
    * (t·max(|A|,|B|) ≤ min) additionally prunes inside the candidate join.
    * Degenerate case (one shingle in a large fraction of all prefixes) is
    * [[minHashPairs]]'s territory.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero would require enumerating all pairs)")
    val withSh = df.select(col(idCol).as("__id"),
        array_sort(shingleHashes(col(textCol), n)).as("__sh"))
      .withColumn("__n", size(col("__sh")))
      // cached: the prefix explode AND the verification join-back both read
      // it — without a cache the shingle-hash pipeline (md5 per shingle)
      // runs twice.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // minimum overlap ⌈t·n⌉, computed with a downward epsilon so binary fp
    // noise (0.6·5 = 3.0000000000000004) can only LENGTHEN the prefix —
    // a longer prefix stays lossless, a shorter one would drop pairs
    val alpha = ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int")
    val inv = withSh
      .select(col("__id"), col("__n"),
        explode(slice(col("__sh"), lit(1), greatest(col("__n") - alpha + 1, lit(1)))).as("__h"))
    val a = inv.select(col("__h"), col("__id").as("id_a"), col("__n").as("__na"))
    val b = inv.select(col("__h"), col("__id").as("id_b"), col("__n").as("__nb"))
    val candidates = a.join(b, Seq("__h"))
      .where(col("id_a") < col("id_b") &&
        least(col("__na"), col("__nb")).cast(DoubleType) >=
          lit(threshold) * greatest(col("__na"), col("__nb")).cast(DoubleType))
      .select("id_a", "id_b").distinct()
    val sets = withSh.select(col("__id"), col("__sh"))
    val pairs = candidates
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    materializeAndRelease(pairs, withSh)
  }

  /** Cross-corpus n-gram contamination — the train-set DECONTAMINATION
    * check: ids of `df` documents sharing at least one word n-gram with
    * any document of `probes` (the eval/benchmark suite). Inverted-index
    * left-semi join on shingle hashes: O(corpus shingles) rows shuffle,
    * never corpus × probes. The probe side (a benchmark suite — tiny next
    * to a training corpus) reduces to its distinct shingle hashes, which
    * Catalyst/AQE broadcasts; at 100 TB this is one scan of the corpus
    * with a broadcast-semi filter. Returns the distinct contaminated ids.
    */
  def contaminatedIds(df: DataFrame, idCol: String, textCol: String,
                      probes: DataFrame, probeTextCol: String,
                      n: Int): DataFrame = {
    val corpusSh = df.select(col(idCol),
      explode(shingleHashes(col(textCol), n)).as("__h"))
    val probeSh = probes
      .select(explode(shingleHashes(col(probeTextCol), n)).as("__h"))
      .distinct()
    corpusSh.join(probeSh, Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
  }

  // ---- MinHash + LSH ------------------------------------------------------

  /** MinHash signature: element k = min over shingle hashes h of
    * (a_k·h + b_k) mod P. One projection, no shuffle. NOTE: embeds the
    * shingle-hash subexpression once per permutation — fine for a few
    * perms or pre-materialized hashes; [[minHashSignatures]] is the
    * at-scale path (hashes computed once, aggregated).
    */
  def minHashSignature(shingleHashCol: Column, numPerms: Int): Column =
    array((0 until numPerms).map { k =>
      val (a, b) = PortableHash.perm(k)
      array_min(transform(shingleHashCol, h => (lit(a) * h + lit(b)) % lit(P)))
    }: _*)

  /** (id, shingle-hash set, MinHash signature) via explode + one
    * hash-aggregate: the expensive md5 shingle hashing runs ONCE per
    * shingle, the k permutations are cheap conditional mins in a single
    * codegen'd aggregate. Shuffles once on id (partial aggregation
    * map-side). This is the formulation that survives 100 TB — signature
    * cost is O(shingles), not O(shingles × perms).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numPerms: Int): DataFrame = {
    val hs = df.select(col(idCol).as("__id"),
      explode(shingleHashes(col(textCol), n)).as("__h"))
    val mins = (0 until numPerms).map { k =>
      val (a, b) = PortableHash.perm(k)
      min((lit(a) * col("__h") + lit(b)) % lit(P)).as(s"__m$k")
    }
    hs.groupBy(col("__id"))
      .agg(collect_set(col("__h")).as("__sh"), mins: _*)
      .select(col("__id"), col("__sh"),
        array((0 until numPerms).map(k => col(s"__m$k")): _*).as("__sig"))
  }

  /** Near-dup pairs via MinHash banding: docs agreeing on ALL rows of any
    * band become candidates (shuffle on the band key — O(docs × bands)
    * rows), then candidates verify with exact shingle Jaccard ≥ threshold.
    * Returns (id_a, id_b, jaccard), id_a < id_b, one row per pair.
    * Band buckets larger than `maxBucket` are capped to star edges
    * ([[guardedBucketPairs]]) — the guard that keeps a dup-heavy corpus
    * (1M copies of one page agreeing on every band) from going quadratic.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, numPerms: Int, bands: Int,
                   threshold: Double, maxBucket: Int = 4096): DataFrame = {
    require(numPerms % bands == 0, s"numPerms $numPerms not divisible by bands $bands")
    val r = numPerms / bands
    // Cached: consumed by the band explode AND the verification join —
    // without it the whole signature aggregation (shingle md5s + shuffle)
    // runs twice. O(docs) rows of (set, signature); spills to disk if big.
    val withSig = minHashSignatures(df, idCol, textCol, n, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band rows carry ONLY (band, key, id) — the shingle-hash sets stay out
    // of the band explode and the candidate join (they'd multiply shuffle
    // volume by bands × |shingles| on both sides); the sets join back once
    // per surviving candidate pair.
    val banded = withSig.select(
      col("__id"),
      explode(array((0 until bands).map { bIdx =>
        struct(lit(bIdx).as("band"),
          concat_ws(",", slice(col("__sig"), bIdx * r + 1, r)).as("key"))
      }: _*)).as("__b"))
      .select(col("__b.band").as("band"), col("__b.key").as("key"), col("__id"))
    val (candidates, guardCaches) =
      guardedBucketPairs(banded, Seq("band", "key"), "__id", maxBucket)
    val sets = withSig.select(col("__id"), col("__sh"))
    val pairs = candidates
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    materializeAndRelease(pairs, withSig +: guardCaches: _*)
  }

  /** INCREMENTAL near-dup: MinHash pairs between a NEW batch and an
    * existing corpus — the ingest-time shape: each arriving batch pairs
    * against the corpus in O(batch × bands) band rows plus the candidate
    * verification, never re-pairing corpus × corpus (at 100 TB the corpus
    * side is a pre-computed signature table; the per-batch cost is
    * independent of corpus pair density). Returns (new_id, corpus_id,
    * jaccard), threshold-verified exactly.
    *
    * Hot corpus buckets (> maxBucket) are capped to their MINIMUM-id
    * member — a new doc colliding with a mass-duplicate cluster still
    * links to the cluster's canonical doc (same recall contract as
    * [[guardedBucketPairs]]).
    */
  def minHashPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          n: Int, numPerms: Int, bands: Int,
                          threshold: Double, maxBucket: Int = 4096): DataFrame = {
    require(numPerms % bands == 0, s"numPerms $numPerms not divisible by bands $bands")
    val r = numPerms / bands
    def banded(sig: DataFrame): DataFrame = sig.select(
      col("__id"),
      explode(array((0 until bands).map { bIdx =>
        struct(lit(bIdx).as("band"),
          concat_ws(",", slice(col("__sig"), bIdx * r + 1, r)).as("key"))
      }: _*)).as("__b"))
      .select(col("__b.band").as("band"), col("__b.key").as("key"), col("__id"))
    val newSig = minHashSignatures(newDf, idCol, textCol, n, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusSig = minHashSignatures(corpus, idCol, textCol, n, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBanded = banded(corpusSig)
    // hot-bucket cap on the CORPUS side: the census aggregate is bounded by
    // rows/maxBucket keys, so Catalyst broadcasts it into the filter join
    val hot = corpusBanded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__bc"), min(col("__id")).as("__bmin"))
      .where(col("__bc") > maxBucket)
    val guardedCorpus = corpusBanded.join(hot, Seq("band", "key"), "left")
      .where(col("__bc").isNull || col("__id") === col("__bmin"))
      .select("band", "key", "__id")
    val candidates = banded(newSig).select(col("band"), col("key"), col("__id").as("new_id"))
      .join(guardedCorpus.select(col("band"), col("key"), col("__id").as("corpus_id")),
        Seq("band", "key"))
      .where(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
    val pairs = candidates
      .join(newSig.select(col("__id").as("new_id"), col("__sh").as("__sha")), Seq("new_id"))
      .join(corpusSig.select(col("__id").as("corpus_id"), col("__sh").as("__shb")), Seq("corpus_id"))
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
    materializeAndRelease(pairs, newSig, corpusSig)
  }

  // ---- dedup as an action: components + drop ------------------------------

  /** Connected components by the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014): edge rewriting that converges in O(log n) rounds
    * where min-label propagation needs O(diameter) — the difference
    * between 4 rounds and 10,000 on a pathological chain of re-crawled
    * near-identical pages. Each round:
    *
    *   - large-star: every node's strictly-LARGER neighbors re-attach to
    *     the minimum of its closed neighborhood (breaks up high-degree
    *     nodes without losing connectivity);
    *   - small-star: every node and its smaller neighbors attach to its
    *     minimum neighbor (collapses toward the root).
    *
    * The fixpoint is a star forest rooted at each component's MINIMUM id —
    * the labeling convention of the driver union-find behind
    * [[connectedComponentsAuto]], so the two are drop-in interchangeable.
    * Returns (id, comp) per row of `ids`, comp = the minimum id of its
    * component under the id type's own ordering. All shuffles are
    * edge-set-sized (the corpus itself never enters the loop), and the edge
    * set only shrinks toward one edge per non-root node.
    *
    * The rounds run over Long ids ([[starForest]]). Any other id type is
    * ranked first: the distinct non-null edge endpoints get a dense,
    * order-preserving Long rank, so a component's minimum rank is the rank
    * of its minimum id, and the forest maps back through that edge-sized
    * table. Nodes without an edge need no rank: they keep their own id.
    */
  def connectedComponentsStar(ids: DataFrame, idCol: String,
                              pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val longIds = pairs.schema("id_a").dataType == LongType &&
      pairs.schema("id_b").dataType == LongType
    // (x = id, r = rank); persisted: the ranked pairs and the map-back
    // both read it
    val ranks = if (longIds) None else {
      val ends = pairs.select(col("id_a").as("x"))
        .union(pairs.select(col("id_b").as("x")))
        .where(col("x").isNotNull).distinct().orderBy("x")
      Some(spark.createDataFrame(
          ends.rdd.zipWithIndex().map { case (r, i) => Row(r.get(0), i) },
          StructType(Seq(ends.schema("x"), StructField("r", LongType, nullable = false))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    try {
      val longPairs = ranks.fold(pairs) { rk =>
        pairs.join(rk.select(col("x").as("id_a"), col("r").as("ra")), "id_a")
          .join(rk.select(col("x").as("id_b"), col("r").as("rb")), "id_b")
          .select(col("ra").as("id_a"), col("rb").as("id_b"))
      }
      val (forest, edgeCount) = starForest(longPairs, maxIters)
      val eOut = ranks.fold(forest.toDF("id", "comp")) { rk =>
        forest.toDF("__r", "__rc")
          .join(rk.select(col("r").as("__r"), col("x").as("id")), "__r")
          .join(rk.select(col("r").as("__rc"), col("x").as("comp")), "__rc")
          .select("id", "comp")
      }
      // label join: ≤ one edge per non-root node, and `edgeCount` bounds
      // it from above — under the broadcast comfort zone (1M edges ≈ 16 MB
      // raw) the corpus-side ids NEVER shuffle (scan + broadcast hash
      // join, the same discipline as the driver-edge drop path); bigger
      // edge sets keep the shuffle join
      val labels = ids.select(col(idCol).as("id"))
        .join(if (edgeCount <= 1000000L) broadcast(eOut) else eOut,
          Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
        .cache()
      labels.count() // materialize before releasing the edge blocks
      forest.unpersist(false)
      labels
    } finally ranks.foreach(_.unpersist())
  }

  /** The star rounds over Long (id_a, id_b) pairs, as plain pair-RDD
    * shuffles: each round costs three tiny co-partitioned shuffles and ONE
    * action — no Catalyst analysis/optimization, no AQE re-planning, no
    * codegen per round, which dominated the wall clock of a DataFrame
    * formulation of the same rounds (the loop data is edge-sized KB).
    * One sweep: large-star (strictly larger neighbors re-attach to the min
    * of the closed neighborhood) then small-star (node + smaller neighbors
    * attach to the min neighbor); labels pinned against driver union-find
    * by StarComponentsSpec's seeded random graphs and the shared
    * q_dedup_drop oracle. Returns the converged star forest as persisted
    * (child, root) edges, which the caller unpersists, and the distinct
    * input edge count.
    */
  private[operators] def starForest(pairs: DataFrame,
                                    maxIters: Int): (org.apache.spark.rdd.RDD[(Long, Long)], Long) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    var e: RDD[(Long, Long)] = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // RIGHT-SIZE the loop's parallelism to the edge volume (near-dup edge
    // sets are tiny next to the corpus): ~1M edges per partition, floor 1.
    val edgeCount = e.count()
    val part = new HashPartitioner(
      math.max(1L, math.min(e.getNumPartitions.toLong,
        edgeCount / 1000000L + 1)).toInt)
    def sweep(edges: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val sym = edges.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .partitionBy(part)
      val minN = sym.reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // min neighbor per node
      // large-star: every strictly-larger neighbor re-attaches to the min
      // of u's CLOSED neighborhood (min(minN, u))
      val large = sym.join(minN).flatMap { case (u, (v, m0)) =>
        val m = math.min(m0, u)
        if (v > u && v != m) Iterator((v, m)) else Iterator.empty
      }.partitionBy(part)
      // small-star on the (big → small) edges large-star emits
      val l2min = large.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      large.join(l2min).flatMap { case (u, (v, m2)) =>
        (if (v != m2) Iterator((v, m2)) else Iterator.empty) ++
          (if (u != m2) Iterator((u, m2)) else Iterator.empty)
      }
    }
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // TWO sweeps per round (typical near-dup graphs converge within the
      // first), then one distinct; the star-forest probe below is the
      // round's single action. localCheckpoint keeps the blocks (at the
      // MEMORY_AND_DISK level a persist would use) and cuts the lineage
      // once the probe has materialized them, so a round's RDD never
      // chains the shuffles of every earlier round — no extra job
      val small = sweep(sweep(e)).distinct(part.numPartitions).localCheckpoint()
      // fixpoint = the edge set IS a star forest: no child with two
      // parents, no parent that is itself a child — one aggregation
      val (multiParent, chained) = small
        .flatMap { case (u, v) => Iterator((u, (1L, 0)), (v, (0L, 1))) }
        .reduceByKey((a: (Long, Int), b: (Long, Int)) =>
          (a._1 + b._1, math.max(a._2, b._2)))
        .map { kv =>
          val (c, p) = kv._2
          (if (c > 1) 1 else 0, if (c >= 1 && p == 1) 1 else 0) }
        .fold((0, 0)) { case ((a1, b1), (a2, b2)) =>
          (math.max(a1, a2), math.max(b1, b2)) }
      e.unpersist(false)
      e = small
      done = multiParent == 0 && chained == 0 // empty set folds to (0,0)
      iter += 1
    }
    if (!done) {
      // degenerate reachable only when the loop never ran (maxIters == 0):
      // an empty edge set is trivially a star forest
      if (e.isEmpty()) done = true
      else {
        e.unpersist(false)
        throw new IllegalStateException(
          s"connectedComponentsStar did not converge in $maxIters rounds")
      }
    }
    (e, edgeCount)
  }

  /** Components with automatic strategy on edge volume. Near-dup edge sets
    * are orders of magnitude smaller than the corpus (a 100 TB corpus with
    * 1% duplication yields millions of edges, not billions — each edge is
    * 16 bytes), so the common case collects the edge list and runs a
    * driver-side union-find: ONE job for the pairs, zero iterative rounds.
    * Above `maxDriverEdges` (default 10M ≈ 160 MB heap) it degrades to the
    * distributed large-star/small-star algorithm
    * ([[connectedComponentsStar]]) — log-rounds, no diameter dependence —
    * which survives any edge volume. Long-typed ids only on the fast path.
    */
  def connectedComponentsAuto(ids: DataFrame, idCol: String, pairs: DataFrame,
                              maxDriverEdges: Int = 10_000_000,
                              maxIters: Int = 50): DataFrame = {
    // persist across the probe: when the edge count exceeds the guard, the
    // distributed fallback must not re-run the (expensive) pair pipeline a
    // second time. A cache the CALLER owns (already-persisted input) is
    // left alone — unpersisting it here would silently evict state the
    // caller may still be using.
    val callerOwned =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerOwned) pairs
      else pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = collectEdges(ids, idCol, p, maxDriverEdges) match {
      case None => connectedComponentsStar(ids, idCol, p, maxIters)
      case Some(edges) =>
        val comp = unionFindMinLabel(edges)
        val spark = ids.sparkSession
        import spark.implicits._
        val mapping = broadcast(comp.toSeq.toDF("__cc_id", "__cc_comp"))
        ids.select(col(idCol).as("id"))
          .join(mapping, col("id") === col("__cc_id"), "left")
          .select(col("id"), coalesce(col("__cc_comp"), col("id")).as("comp"))
    }
    // both branches have consumed pairs (driver edges or materialized label
    // cache); release our own persist. Eviction after this only costs
    // recompute, not wrong answers.
    if (!callerOwned) p.unpersist()
    out
  }

  /** Collect the (id_a, id_b) edge list if ids are Long-typed and the list
    * fits under `maxDriverEdges`; None otherwise. */
  private def collectEdges(ids: DataFrame, idCol: String, pairs: DataFrame,
                           maxDriverEdges: Int): Option[Array[(Long, Long)]] =
    if (ids.schema(idCol).dataType != LongType) None
    else {
      // null ids must not reach getLong — null.asInstanceOf[Long] is 0L,
      // which would fabricate edges to a phantom node 0
      val rows = pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
        .where(col("id_a").isNotNull && col("id_b").isNotNull)
        .limit(maxDriverEdges + 1).collect()
      if (rows.length > maxDriverEdges) None
      else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
    }

  /** Union-find with path compression over a collected edge list; returns
    * id → min id of its component, for every node touched by an edge
    * (untouched nodes are their own component — omitted). */
  private def unionFindMinLabel(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { val gp = parent.getOrDefault(p, p); parent.put(x, gp); x = p; p = gp }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // second pass: full compression so every touched node maps to its root,
    // which IS the component minimum (unions always point larger → smaller)
    val out = Map.newBuilder[Long, Long]
    edges.foreach { case (a, b) => out += (a -> find(a)); out += (b -> find(b)) }
    out.result()
  }

  /** Drop near-duplicates: keep only the canonical (minimum-id) document of
    * every MinHash near-dup cluster. The end-to-end dedup ACTION a corpus
    * pipeline runs — pairs → components → filter. Components via
    * [[connectedComponentsAuto]]: driver union-find on the (small) edge
    * list, the distributed large-star/small-star rounds above the size
    * guard.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         n: Int, numPerms: Int, bands: Int,
                         threshold: Double,
                         maxDriverEdges: Int = 10_000_000,
                         maxBucket: Int = 4096): DataFrame = {
    // minHashPairs returns an eagerly-materialized cached handle, so the
    // collectEdges probe and a distributed fallback read the same blocks —
    // the pair pipeline runs once either way.
    val pairs = minHashPairs(df, idCol, textCol, n, numPerms, bands, threshold, maxBucket)
    dropByPairs(df, idCol, pairs, maxDriverEdges)
  }

  /** The dedup ACTION for ANY pair source: given (id_a, id_b) near-dup
    * pairs — from [[minHashPairs]], [[simHashPairs]], [[jaccardPairs]],
    * [[VectorSimilarity.cosineNearDupPairs]], or an external blocker —
    * keep only each cluster's canonical (minimum-id) document. Components
    * via [[connectedComponentsAuto]]; the corpus itself never shuffles on
    * the driver-edge fast path (scan + broadcast anti-join). CONSUMES
    * `pairs`: a cached handle (every pair operator returns one) is
    * released before returning.
    */
  def dropByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                  maxDriverEdges: Int = 10_000_000): DataFrame = {
    val out = collectEdges(df, idCol, pairs, maxDriverEdges) match {
      case Some(edges) =>
        // Fast path: the drop-set (non-canonical members of clusters) is at
        // most 2×|edges| ids — broadcast anti-join it against the corpus.
        // The corpus itself never shuffles: at 100 TB this is a scan +
        // broadcast filter, not a corpus-sized join.
        val dropIds = unionFindMinLabel(edges).collect {
          case (id, c) if id != c => id
        }.toSeq
        val spark = df.sparkSession
        import spark.implicits._
        df.join(broadcast(dropIds.toDF("__drop_id")),
          col(idCol) === col("__drop_id"), "left_anti")
      case None =>
        // Distributed fallback: components via the large-star/small-star
        // RDD rounds (log-rounds, one action per round). Labels are
        // identical by construction — comp = minimum id of the component
        // — pinned star-vs-union-find by StarComponentsSpec and by the
        // q_dedup_drop/q_dedup_drop_star shared oracle.
        val comps = connectedComponentsStar(df.select(col(idCol)), idCol, pairs)
        // keep-set = component roots; materialize it and RELEASE the
        // corpus-sized labels cache (previously leaked until session end)
        val keep = materializeAndRelease(
          comps.where(col("id") === col("comp")).select(col("id").as(idCol)),
          comps)
        df.join(keep, Seq(idCol))
    }
    // both paths have consumed pairs into driver state or a materialized
    // label cache; release its blocks now rather than at application exit
    pairs.unpersist()
    out
  }

  /** Corpus-level dedup audit for ANY pair source: one row of totals —
    * (n_total, n_dup_groups, n_dup_members, n_dropped, drop_ppm) — the
    * "how duplicated is this corpus / what would dedup save" report a
    * pipeline reads BEFORE committing to the drop. Same component
    * machinery as [[dropByPairs]]; the output is a handful of aggregates,
    * so the audit costs the pair pipeline + a two-level count, never a
    * corpus rewrite.
    */
  def dedupReport(df: DataFrame, idCol: String, pairs: DataFrame,
                  maxDriverEdges: Int = 10_000_000): DataFrame = {
    val comps = connectedComponentsAuto(df.select(col(idCol)), idCol, pairs, maxDriverEdges)
    val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
    val report = sizes.agg(
      sum(col("sz")).as("n_total"),
      sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("n_dup_members"),
      (sum(col("sz")) - count(lit(1))).as("n_dropped"))
    .select(col("n_total"), col("n_dup_groups"), col("n_dup_members"),
      col("n_dropped"),
      expr("CAST(n_dropped * 1000000 DIV n_total AS BIGINT)").as("drop_ppm"))
    // the distributed-components path hands back a cached corpus-sized
    // labels frame — fold it into the one-row report and release it (the
    // driver-union-find path returns an uncached frame: unpersist no-ops)
    materializeAndRelease(report, comps)
  }

  // ---- SimHash ------------------------------------------------------------

  /** Signature width in bits. 60 = every bit the portable md5 hash yields
    * (15 hex chars — [[PortableHash.h60]]); staying under bit 62 also keeps
    * every `1L << b` term and the signature itself positive, so band
    * extraction via arithmetic shift + mask is engine-agnostic (no signed
    * >> divergence risk between Spark and DuckDB on negative values).
    */
  val SimHashBits = 60

  /** 60-bit SimHash over the distinct 3-gram shingle hashes of `text`:
    * bit b is set iff Σ_shingles (±1 per bit b of the shingle hash) > 0.
    * One projection. Shingles, not tokens: on a corpus with a small shared
    * vocabulary, distinct-token sets saturate and token-level SimHash
    * collapses to near-zero Hamming distances everywhere; word-order
    * n-grams keep the signal.
    */
  def simHash(text: Column): Column = {
    val hs = shingleHashes60(text, 3)
    (0 until SimHashBits).map { b =>
      val w = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(w > 0L, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (id, SimHash signature) via explode + one hash-aggregate — shingle
    * hashes computed once, 60 conditional-sum bit weights in a single
    * codegen'd aggregate (the [[simHash]] Column form embeds the shingle
    * subexpression 60×; this is the at-scale path).
    */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = df.select(col(idCol).as("__id"),
      explode(shingleHashes60(col(textCol), 3)).as("__h"))
    val weights = (0 until SimHashBits).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__w$b")
    }
    val agg = hs.groupBy(col("__id")).agg(weights.head, weights.tail: _*)
    val sig = (0 until SimHashBits).map { b =>
      when(col(s"__w$b") > 0L, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("__id"), sig.as("__sig"))
  }

  /** Pairs at Hamming distance ≤ maxDist between 60-bit SimHashes, found by
    * banding (pigeonhole-complete for maxDist ≤ bands − 1). Returns
    * (id_a, id_b, hamming).
    *
    * `bands` must divide [[SimHashBits]]; the default 4 gives 15-bit band
    * keys — 32768 distinct keys per band, so natural bucket sizes stay
    * ~N/32768 per band and the `maxBucket` star-cap guard only ever engages
    * on true mass duplication (the 31-bit/byte-band predecessor had 256
    * keys per band, which saturated structurally at ~1M docs and turned the
    * guard into a recall tax). For a larger exact radius, raise `bands`
    * (e.g. 6 bands of 10 bits → maxDist ≤ 5) — band keys shrink, so weigh
    * radius against bucket density.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int, bands: Int = 4, maxBucket: Int = 4096): DataFrame =
    hammingPairs(simHashSignatures(df, idCol, textCol), "__id", "__sig",
      SimHashBits, maxDist, bands, maxBucket)

  /** Pairs at Hamming distance ≤ maxDist between arbitrary `bits`-bit
    * signatures (SimHashes, perceptual image hashes, any bit fingerprint),
    * by the same banded pipeline as [[simHashPairs]]: band keys shuffle,
    * hot buckets star-cap, exact `bit_count(xor)` verification on the
    * candidates only. `sigs` must carry one non-null signature per id;
    * null signatures (e.g. failed decodes) are dropped before banding.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String, bits: Int,
                   maxDist: Int, bands: Int = 4, maxBucket: Int = 4096): DataFrame = {
    require(bits >= 2 && bits <= 62, s"bits out of range: $bits")
    require(bands >= 2 && bits % bands == 0,
      s"bands must divide $bits bits evenly: $bands")
    require(maxDist <= bands - 1,
      s"banding over $bands bands is pigeonhole-complete only for maxDist <= ${bands - 1} " +
        s"(got $maxDist); pairs at greater distance could share no band and be " +
        s"silently dropped — use more bands for a larger radius")
    val bandBits = bits / bands
    val bandMask = (1L << bandBits) - 1
    // cached: the banded self-join's two branches would otherwise each
    // recompute the signature pipeline. Only (id, sig) is cached — two
    // longs per doc.
    val withSig = sigs
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .where(col("__sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band rows carry ONLY (band, key, id); the signatures join back per
    // surviving candidate pair rather than riding the banded self-join on
    // both sides.
    val banded = withSig.select(col("__id"),
      explode(array((0 until bands).map { k =>
        struct(lit(k).as("band"),
          shiftright(col("__sig"), k * bandBits).bitwiseAND(lit(bandMask)).as("key"))
      }: _*)).as("__b"))
      .select(col("__b.band").as("band"), col("__b.key").as("key"), col("__id"))
    val (candidates, guardCaches) =
      guardedBucketPairs(banded, Seq("band", "key"), "__id", maxBucket)
    val sigSel = withSig.select(col("__id"), col("__sig"))
    val pairs = candidates
      .join(sigSel.select(col("__id").as("id_a"), col("__sig").as("__siga")), Seq("id_a"))
      .join(sigSel.select(col("__id").as("id_b"), col("__sig").as("__sigb")), Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("__siga").bitwiseXOR(col("__sigb"))).cast(LongType))
      .where(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
    materializeAndRelease(pairs, withSig +: guardCaches: _*)
  }
}
