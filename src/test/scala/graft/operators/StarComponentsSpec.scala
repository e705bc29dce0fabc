package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobLedger

class StarComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf[T: Encoder](ids: Seq[T], pairs: Seq[(T, T)]): Map[T, T] =
    Dedup.connectedComponentsStar(
      spark.createDataset(ids).toDF("id"), "id",
      spark.createDataset(pairs)(Encoders.tuple(implicitly[Encoder[T]],
        implicitly[Encoder[T]])).toDF("id_a", "id_b"))
      .collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap

  /** Reference labeling via plain driver union-find: every node maps to
    * the minimum of its component under `Ordering[T]`. */
  private def expected[T](ids: Seq[T], pairs: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def chainPairs(n: Long) = (0L until n - 1).map(i => (i, i + 1))

  test("long chain (diameter ≫ rounds) converges to the minimum label") {
    val n = 300L
    val got = labelsOf(0L until n, chainPairs(n))
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), "every chain node must label to the minimum")
  }

  test("the star rounds refuse to return labels they did not converge to") {
    // the chain above converges under the default budget in more than one
    // round (the job-count test below counts them); one round leaves it
    // unfinished
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStar((0L until 300L).toDF("id"), "id",
        chainPairs(300L).toDF("id_a", "id_b"), maxIters = 1).collect()
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("seeded random graphs match driver union-find exactly") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val n = 120
      val ids = (0L until n.toLong)
      val pairs = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(labelsOf(ids, pairs) == expected(ids, pairs))
      // the same graphs with non-Long ids run through the dense rank
      val intIds = ids.map(_.toInt)
      val intPairs = pairs.map { case (a, b) => (a.toInt, b.toInt) }
      assert(labelsOf(intIds, intPairs) == expected(intIds, intPairs))
      def pad(i: Long) = f"n$i%04d"
      val strIds = ids.map(pad)
      val strPairs = pairs.map { case (a, b) => (pad(a), pad(b)) }
      assert(labelsOf(strIds, strPairs) == expected(strIds, strPairs))
    }
  }

  test("no edges: every node is its own component") {
    val got = labelsOf(Seq(5L, 7L, 9L), Seq.empty)
    assert(got == Map(5L -> 5L, 7L -> 7L, 9L -> 9L))
  }

  test("isolated nodes keep self labels next to real components") {
    val got = labelsOf(Seq(1L, 2L, 3L, 4L, 5L), Seq((4L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 5L))
  }

  test("empty edge set converges even with maxIters = 0") {
    val got = Dedup.connectedComponentsStar(
        Seq(5L, 7L).toDF("id"), "id",
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), maxIters = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 7L -> 7L))
  }

  test("the star rounds start the parent's jobs and keep a flat lineage") {
    // job counts recorded at the commit before the rounds truncated their
    // lineage: cutting it must not cost a job
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog")
    )).toDF("doc_id", "text")
    val (kept, dropJobs) = JobLedger(spark) {
      Dedup.dropNearDuplicates(docs, "doc_id", "text", n = 3, numPerms = 16,
        bands = 4, threshold = 0.5, maxDriverEdges = 0)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    assert(kept == Seq(1L, 3L))
    assert(dropJobs.size == 23, s"forced-distributed drop jobs: ${dropJobs.size}")
    def run(n: Long) = JobLedger(spark) {
      val labels = Dedup.connectedComponentsStar((0L until n).toDF("id"), "id",
        chainPairs(n).toDF("id_a", "id_b"))
      labels.collect()
      labels
    }
    val (oneRound, oneJobs) = run(2L)
    val (manyRounds, manyJobs) = run(300L)
    assert(manyJobs.size == 12, s"300-node chain jobs: ${manyJobs.size}")
    // one probe job per round: the chain takes at least 3 rounds
    assert(manyJobs.size - oneJobs.size >= 2)
    def lines(s: String) = s.linesIterator.size
    assert(lines(oneRound.rdd.toDebugString) == lines(manyRounds.rdd.toDebugString))
    // the labels reach the forest through a broadcast, so its rounds are
    // not in their lineage; the forest's own lineage is the one a round
    // would extend. An 8-node chain takes 3 rounds (one probe job more
    // per node doubling); kept small because an untruncated lineage
    // prints exponentially in the round count
    def forestLines(n: Long) = {
      val (forest, _) = Dedup.starForest(chainPairs(n).toDF("id_a", "id_b"), maxIters = 50)
      try lines(forest.toDebugString) finally forest.unpersist(false)
    }
    assert(run(8L)._2.size - oneJobs.size == 2)
    assert(forestLines(2L) == forestLines(8L))
  }
}
