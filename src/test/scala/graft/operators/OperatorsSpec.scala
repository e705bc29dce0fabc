package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit specs for the training-data extension operators: known-answer
  * cases small enough to verify by hand (the DuckDB oracle covers the
  * at-scale behavior; these pin the semantics).
  */
class OperatorsSpec extends SparkSpec {

  private def docsDf = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "quick brown fox jumps over the lazy dog"),   // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  )).toDF("doc_id", "text")

  test("exact dedup keeps min-id row per text") {
    val out = Dedup.exact(docsDf, Seq("text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("exact dedup shuffle key leads with the portable hash, not the text") {
    val plan = Dedup.exact(docsDf, Seq("text"), "doc_id")
      .queryExecution.executedPlan.toString
    // the exchange and the window sort must both resolve on __kh FIRST so
    // full-document comparisons happen only on hash ties (true duplicates)
    assert(plan.contains("hashpartitioning(__kh"),
      s"window exchange must partition hash-first:\n$plan")
    assert(!plan.contains("hashpartitioning(text"),
      s"raw text must not lead the partition spec:\n$plan")
  }

  test("shingles: distinct word 3-grams, short text yields partial shingle") {
    val sh = docsDf.where(col("doc_id") === 1)
      .select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(sh.contains("the quick brown") && sh.contains("over the lazy"))
    assert(sh.length == 7) // 9 tokens -> 7 trigrams, all distinct
    val short = spark.createDataFrame(Seq(Tuple1("one two"))).toDF("text")
      .select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(short == Seq("one two"))
  }

  test("jaccard pairs find the near-dup and the exact dup, not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(docsDf, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard prefix filter is lossless vs brute-force all-pairs (t=0.6)") {
    // 0.6 has no exact binary representation — exercises the downward
    // epsilon in the ⌈t·n⌉ prefix-length bound; a varied corpus of
    // overlapping sentences makes prefixes genuinely shorter than the sets
    val spark0 = spark
    import spark0.implicits._
    val corpus = (0L until 30L).map { i =>
      val words = (0 until 8).map(j => s"w${(i + j * (i % 3 + 1)) % 20}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val fast = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 2, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = corpus.select(col("doc_id"),
        Dedup.shingleHashes(col("text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size
      union = sets(a).size + sets(b).size - inter
      if inter.toDouble / union >= 0.6
    } yield (a, b)).toSet
    assert(fast == brute)
    assert(brute.nonEmpty, "test corpus produced no qualifying pairs — not probative")
  }

  test("minhash LSH finds the same pairs as exact jaccard at high threshold") {
    val mh = Dedup.minHashPairs(docsDf, "doc_id", "text",
        n = 3, numPerms = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 4L)))
    assert(!mh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical texts at hamming 0, near-dups close, unrelated far") {
    val sigs = docsDf.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    val hammNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    val hammFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(hammNear < hammFar)
  }

  test("cosine: orthogonal = 0, identical = 1, scaled copy = 1") {
    val df = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f))
    )).toDF("vec_id", "embedding")
    val a = df.as("a"); val b = df.as("b")
    val sims = a.crossJoin(b)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        VectorSimilarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((1L, 2L))) < 1e-12)
    assert(math.abs(sims((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break, excludes self") {
    val df = spark.createDataFrame(Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f))
    )).toDF("vec_id", "embedding")
    val out = VectorSimilarity.bruteForceTopK(df, df.where(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(out == Seq(3L, 1L, 2L)) // exact copy first, near second, orthogonal last
  }

  test("text stats: known counts on a fixed sentence") {
    val df = spark.createDataFrame(Seq((1L, "the the fox!"))).toDF("doc_id", "text")
    val r = TextAnalysis.withStats(df, "text", graft.queries.BpeMerges.Merges).head()
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_uniq_tokens") == 2L)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 3.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("alpha_ratio") - 9.0 / 12.0) < 1e-12)
  }

  test("fingerprint is order-sensitive") {
    val df = spark.createDataFrame(Seq(
      (1L, "alpha beta"), (2L, "beta alpha"))).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) != fps(2L))
  }

  test("connectedComponentsAuto: union-find fast path equals the distributed star rounds") {
    val ids = spark.createDataFrame(Seq(1L, 3L, 5L, 7L, 9L, 8L).map(Tuple1(_))).toDF("id")
    val pairs = spark.createDataFrame(
      Seq((7L, 9L), (5L, 7L), (3L, 5L), (1L, 3L))).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponentsAuto(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = Dedup.connectedComponentsAuto(ids, "id", pairs, maxDriverEdges = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(Seq(1L, 3L, 5L, 7L, 9L).forall(fast(_) == 1L) && fast(8L) == 8L)
  }

  test("dropNearDuplicates keeps exactly the min-id doc per near-dup cluster") {
    val out = Dedup.dropNearDuplicates(docsDf, "doc_id", "text",
        n = 3, numPerms = 16, bands = 4, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // docs 1,2,4 cluster (exact + near dups) -> keep 1; doc 3 unrelated
    assert(out == Seq(1L, 3L))
  }

  test("saltedJoin equals the plain join on a hot-key dataset, inner and left") {
    // one hot key (90% of rows) plus a miss for the left-join case
    val left = spark.createDataFrame(
      (1 to 90).map(i => (1L, s"v$i")) ++ Seq((2L, "x"), (3L, "y"), (99L, "miss"))
    ).toDF("k", "v")
    val right = spark.createDataFrame(Seq((1L, "one"), (2L, "two"), (3L, "three")))
      .toDF("rk", "name")
    for (jt <- Seq("inner", "left")) {
      val salted = SkewJoin.saltedJoin(left, right, "k", "rk", buckets = 4, joinType = jt)
        .select("k", "v", "name").collect().map(r => (r.get(0), r.get(1), r.get(2))).sortBy(_.toString)
      val plain = left.join(right, left("k") === right("rk"), jt)
        .select("k", "v", "name").collect().map(r => (r.get(0), r.get(1), r.get(2))).sortBy(_.toString)
      assert(salted.toSeq == plain.toSeq, s"joinType $jt diverged")
    }
  }

  test("saltedJoin saltFrom: exact-duplicate hot rows spread across buckets") {
    // 64 EXACT copies of the hot row: the default content salt sends them
    // all to one bucket (documented trade-off); a caller-supplied
    // distinguishing column restores the spread — and the result is still
    // identical to the plain join
    val left = spark.createDataFrame(
      (1 to 64).map(i => (1L, "same", i.toLong)) ++ Seq((2L, "x", 100L))
    ).toDF("k", "v", "row_id")
    val right = spark.createDataFrame(Seq((1L, "one"), (2L, "two"))).toDF("rk", "name")
    val salted = SkewJoin.saltedJoin(left, right, "k", "rk", buckets = 8,
      saltFrom = Seq("row_id"))
    val plain = left.join(right, left("k") === right("rk"), "inner")
    assert(salted.select("k", "row_id", "name").collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      plain.select("k", "row_id", "name").collect().map(_.toSeq).sortBy(_.toString).toSeq)
    // the implementation must actually salt from row_id ALONE: the plan's
    // xxhash64 call takes one argument (the content salt would hash k, v,
    // row_id together — and collapse the 64 identical (k, v) prefixes less)
    // analyzed (pre-optimization) plan: the optimizer constant-folds this
    // tiny LocalRelation and would erase the salt expression entirely
    val plan = salted.queryExecution.analyzed.toString
    assert(plan.contains("xxhash64(row_id"), s"salt not derived from row_id:\n$plan")
    assert(!plan.contains("xxhash64(k#"), "salt unexpectedly includes the join key column")
    // the spread itself: distinct row_ids hash to >1 bucket under the salt
    import org.apache.spark.sql.functions._
    val buckets = left.select(pmod(xxhash64(col("row_id")), lit(8L))).distinct().count()
    assert(buckets > 1, "row_id salt should spread exact duplicates")
    // unknown saltFrom column fails at staging
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(left, right, "k", "rk", 8, saltFrom = Seq("nope"))
    }
  }

  test("multimodal decode: features match hand computation; frames slice correctly") {
    val df = spark.createDataFrame(Seq((7L, "abcd" * 8))).toDF("doc_id", "text") // 32 bytes
    val feats = Multimodal.decodeFeatures(Multimodal.attachBinary(df, "text"), "doc_id").head()
    val bytes = ("abcd" * 8).getBytes("UTF-8").map(_ & 0xff)
    assert(feats.getAs[Long]("n_bytes") == 32L)
    assert(feats.getAs[Long]("width") == 32L % 251)
    assert(feats.getAs[Long]("checksum") == bytes.map(_.toLong).sum % graft.functions.PortableHash.P)
    // frames of 16 bytes, stride 2 -> frame 0 only (frames 0 and 1 exist, stride skips 1)
    val frames = Multimodal.frameSample(Multimodal.attachBinary(df, "text"), "doc_id", 16, 2)
      .collect()
    assert(frames.length == 1 && frames.head.getAs[Long]("frame_idx") == 0L)
    assert(frames.head.getAs[Long]("f_checksum") ==
      bytes.take(16).map(_.toLong).sum % graft.functions.PortableHash.P)
  }

  test("image decode: real PNG round-trip, JPEG recognized, garbage -> nulls") {
    // generated PNG decodes back to exactly the generator's pixels
    val df = spark.createDataFrame(Seq((5L, 4, 3))).toDF("doc_id", "w", "h")
    val feats = Multimodal.decodeImageFeatures(
      Multimodal.attachGeneratedPng(df, "doc_id", "w", "h"), "doc_id").head()
    val expected = (for { x <- 0 until 4; y <- 0 until 3 }
      yield 3L * ((x * 31L + y * 17L + 5L * 13L) % 256L)).sum
    assert(feats.getAs[Long]("width") == 4L)
    assert(feats.getAs[Long]("height") == 3L)
    assert(feats.getAs[Long]("checksum") == expected)

    // a JPEG produced by ImageIO itself decodes with the right dimensions
    // (checksum is codec-lossy, so only the dims are asserted)
    val img = new java.awt.image.BufferedImage(6, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpegDf = spark.createDataFrame(Seq(Tuple2(9L, bos.toByteArray)))
      .toDF("doc_id", "content")
    val jf = Multimodal.decodeImageFeatures(jpegDf, "doc_id").head()
    assert(jf.getAs[Long]("width") == 6L && jf.getAs[Long]("height") == 2L)

    // unrecognizable bytes surface null features, not a stage failure
    val bad = spark.createDataFrame(Seq(Tuple2(1L, "not an image".getBytes)))
      .toDF("doc_id", "content")
    val bf = Multimodal.decodeImageFeatures(bad, "doc_id").head()
    assert(bf.isNullAt(bf.fieldIndex("width")) && bf.isNullAt(bf.fieldIndex("checksum")))
  }

  test("image aHash: brightness-invariant, discriminative, pairs via hammingPairs") {
    def img(w: Int, h: Int)(f: (Int, Int) => Int) = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xff
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    val base = img(20, 12)((x, y) => (x * 13 + y * 29) % 180)
    // +40 everywhere (no clipping): block and global means shift together,
    // the cross-multiplied comparison is EXACTLY preserved, ties included
    val brighter = img(20, 12)((x, y) => (x * 13 + y * 29) % 180 + 40)
    assert(Multimodal.aHash60(base) == Multimodal.aHash60(brighter),
      "uniform brightness shift must not change the hash")
    val different = img(20, 12)((x, y) => ((x * 7) % 11) * 20)
    assert(Multimodal.aHash60(base) != Multimodal.aHash60(different))

    // end-to-end: two identical-image families + one garbage payload
    val a = Multimodal.makePngVariant(16, 12, seed = 4, variant = 0)
    val b = Multimodal.makePngVariant(14, 18, seed = 77, variant = 2)
    val rows = Seq((1L, a), (2L, a), (3L, a), (10L, b), (11L, b),
      (99L, "not an image".getBytes))
    val df = spark.createDataFrame(rows).toDF("doc_id", "content")
    val hashes = Multimodal.imageAHash(df, "doc_id")
    val h99 = hashes.where(col("doc_id") === 99L).head()
    assert(h99.isNullAt(h99.fieldIndex("ahash")), "garbage must hash to null")
    val pairs = Dedup.hammingPairs(hashes, "doc_id", "ahash", bits = 60, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet.intersect(Set((1L, 2L), (1L, 3L), (2L, 3L))).size == 3,
      s"identical images must pair at distance 0: $pairs")
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)).forall(k => pairs(k) == 0L))
    assert(!pairs.keySet.exists { case (x, y) => x <= 3L && y >= 10L },
      s"cross-family pairs must not appear at maxDist=1: $pairs")
  }

  test("quality checks count violations per rule (known answers)") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (Option(1L), 10.0, Option("O")),
      (Option(2L), -5.0, Option("F")),
      (Option(2L), 20.0, None: Option[String]),
      (None: Option[Long], 5.0, Option("X"))
    ).toDF("k", "v", "s")
    val dim = Seq(1L, 3L).toDF("dk")
    val out = graft.operators.Quality.check(df, Seq(
        graft.operators.Quality.NotNull("k"),
        graft.operators.Quality.InRange("v", 0.0, 15.0),
        graft.operators.Quality.Matches("s", "[OF]"),
        graft.operators.Quality.Unique(Seq("k")),
        graft.operators.Quality.ForeignKey("k", dim, "dk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("not_null(k)") == 1L)      // the None key
    assert(out("in_range(v,0.0,15.0)") == 2L) // -5 and 20
    assert(out("matches(s)") == 1L)       // "X"; null doesn't violate
    assert(out("unique(k)") == 1L)        // two rows with k=2 -> 1 extra
    assert(out("foreign_key(k)") == 2L)   // both k=2 rows miss the dim
  }

  test("audio decode: real WAV round-trip; garbage -> nulls") {
    val df = spark.createDataFrame(Seq((7L, 40, 16000))).toDF("doc_id", "nf", "rate")
    val feats = Multimodal.decodeAudioFeatures(
      Multimodal.attachGeneratedWav(df, "doc_id", "nf", "rate"), "doc_id").head()
    val expected = (0 until 40).map(i => ((i * 31L + 7L * 13L) % 65536L) - 32768L).sum
    assert(feats.getAs[Long]("sample_rate") == 16000L)
    assert(feats.getAs[Long]("channels") == 1L)
    assert(feats.getAs[Long]("n_frames") == 40L)
    assert(feats.getAs[Long]("checksum") == expected)

    val bad = spark.createDataFrame(Seq(Tuple2(1L, "definitely not audio".getBytes)))
      .toDF("doc_id", "content")
    val bf = Multimodal.decodeAudioFeatures(bad, "doc_id").head()
    assert(bf.isNullAt(bf.fieldIndex("sample_rate")) &&
      bf.isNullAt(bf.fieldIndex("checksum")))
  }

  test("video decode: real Y4M round-trip; truncated/garbage -> nulls") {
    def luma(w: Int, h: Int, nf: Int, seed: Long): Long =
      (for { f <- 0 until nf; x <- 0 until w; y <- 0 until h }
        yield (x * 31L + y * 17L + f * 7L + seed * 13L) % 256L).sum
    val df = spark.createDataFrame(Seq((9L, 10, 6, 4))).toDF("doc_id", "w", "h", "nf")
    val feats = Multimodal.decodeVideoFeatures(
      Multimodal.attachGeneratedY4m(df, "doc_id", "w", "h", "nf"), "doc_id").head()
    assert(feats.getAs[Long]("width") == 10L && feats.getAs[Long]("height") == 6L)
    assert(feats.getAs[Long]("fps_num") == 25L && feats.getAs[Long]("fps_den") == 1L)
    assert(feats.getAs[Long]("n_frames") == 4L)
    assert(feats.getAs[Long]("luma_checksum") == luma(10, 6, 4, 9L))

    // truncated payload (half the last frame missing) and non-video bytes
    val full = Multimodal.makeY4m(10, 6, 4, 9L)
    val bad = spark.createDataFrame(Seq(
        (1L, full.dropRight(40)), (2L, "not a video".getBytes)))
      .toDF("doc_id", "content")
    val bf = Multimodal.decodeVideoFeatures(bad, "doc_id").collect()
    assert(bf.forall(r => r.isNullAt(r.fieldIndex("width")) &&
      r.isNullAt(r.fieldIndex("luma_checksum"))))
  }

  test("video frame sampling seeks to every stride-th frame's luma plane") {
    def frameLuma(w: Int, h: Int, f: Int, seed: Long): Long =
      (for { x <- 0 until w; y <- 0 until h }
        yield (x * 31L + y * 17L + f * 7L + seed * 13L) % 256L).sum
    val df = spark.createDataFrame(Seq((3L, 8, 8, 5))).toDF("doc_id", "w", "h", "nf")
    val got = Multimodal.videoFrameSample(
        Multimodal.attachGeneratedY4m(df, "doc_id", "w", "h", "nf"),
        "doc_id", stride = 2)
      .orderBy("frame_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(0L, 2L, 4L).map(f => (f, frameLuma(8, 8, f.toInt, 3L))))
    // undecodable payloads contribute no rows
    val bad = spark.createDataFrame(Seq(Tuple2(1L, "junk".getBytes)))
      .toDF("doc_id", "content")
    assert(Multimodal.videoFrameSample(bad, "doc_id", 2).count() === 0L)
  }

  test("corrupt Y4M header dims surface as null features, never a crash") {
    // headers declaring huge/hostile dims: w*h overflows Int, frame size
    // exceeds the payload, or odd dims — every one must decode to None
    // (null features / zero frame rows), not throw or hang
    def y4m(params: String): Array[Byte] =
      (s"YUV4MPEG2 $params\nFRAME\n" + "x" * 64).getBytes("US-ASCII")
    val hostile = Seq(
      y4m("W65536 H65536 F25:1"),             // w*h = 2^32 → Int overflow
      y4m("W2147483646 H2 F25:1"),            // frameSize way past payload
      y4m("W46342 H46342 F25:1"),             // w*h just over Int.MaxValue
      y4m("W10 H6 F25:1"),                    // honest dims, truncated frame
      y4m("W0 H0 F25:1"),                     // zero dims
      y4m("W-4 H-4 F25:1"))                   // negative dims
    val df = spark.createDataFrame(
        hostile.zipWithIndex.map { case (b, i) => (i.toLong, b) })
      .toDF("doc_id", "content")
    val feats = Multimodal.decodeVideoFeatures(df, "doc_id").collect()
    assert(feats.length === hostile.length)
    assert(feats.forall(r => r.isNullAt(r.fieldIndex("width"))),
      "hostile headers must yield null features")
    assert(Multimodal.videoFrameSample(df, "doc_id", 1).count() === 0L)
  }

  test("audioAHash60: perturbed re-encode stays near, different seed lands far") {
    def wavHash(nf: Int, seed: Long, variant: Long): Long = {
      val bytes = Multimodal.makeWavVariant(nf, 8000, seed, variant)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val raw = ais.readAllBytes(); ais.close()
      val samples = Array.tabulate(raw.length / 2)(i =>
        (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort.toInt)
      Multimodal.audioAHash60(samples)
    }
    val base = wavHash(150, 7L, 0L)
    val near = wavHash(150, 7L, 2L)   // same clip, sparse perturbation
    val other = wavHash(150, 55L, 0L) // different content entirely
    assert(java.lang.Long.bitCount(base ^ near) <= 3,
      s"perturbed copy too far: ${java.lang.Long.bitCount(base ^ near)}")
    assert(java.lang.Long.bitCount(base ^ other) > 10,
      s"unrelated clip too close: ${java.lang.Long.bitCount(base ^ other)}")
    assert(Multimodal.audioAHash60(Array.empty[Int]) == 0L)
  }

  test("audioAHash yields null for non-audio payloads (hammingPairs drops them)") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "content")
    val got = Multimodal.audioAHash(junk, "doc_id").collect()
    assert(got.length == 1 && got(0).isNullAt(1))
  }
}
