package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.QualityClassifier
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.QualityWeights

/** The LLM-data operator chain over a seeded corpus with injected exact
  * and near copies, run as part of each `cube_build` pass: normalize,
  * exact dedup, Gopher gate and quality classifier (materialized once),
  * then MinHash near-duplicate pairs, their drop, and per-source counts of
  * the kept documents. */
final class CorpusCurate(spark: SparkSession, seed: Long, docs: Long) {
  import Ctx.require
  import CorpusCurate._

  private var corpusPath: String = _
  private var inputDocs = 0L
  /** Word count of every input document, by id. */
  private var words: Map[Long, Int] = Map.empty
  private var pinnedKept: Option[Long] = None

  def buildFixture(dir: String): Unit = {
    corpusPath = s"$dir/documents.parquet"
    Gen.documents(spark, seed, docs).write.parquet(corpusPath)
    words = spark.read.parquet(corpusPath)
      .select(col("doc_id"), size(split(trim(col("text")), " +")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    inputDocs = words.size.toLong
    pinnedKept = None
  }

  /** The chain's calls, inside the caller's pass. */
  def run(ctx: Ctx): Unit = {
    val corpus = spark.read.parquet(corpusPath)
    val filtered = ctx.op("op.filter_stages") {
      val norm = corpus.select(col("doc_id"), col("source"),
        TextAnalysis.normalizeText(col("text")).as("text"))
      val exact = Dedup.exact(norm, Seq("text"), "doc_id")
      val gated = TextAnalysis.withGopherFlags(exact, "text", minWords = MinWords)
        .where(col("gopher_keep"))
      val f = QualityClassifier.withQualityScore(gated, "text",
          QualityWeights.WeightsPpm, QualityWeights.BiasPpm)
        .where(col("quality_keep"))
        .select("doc_id", "source", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (f, f.count())
    } { case (_, n) => require(n > 0, "every document was filtered out") }
    try for ((f, _) <- filtered) {
      val pairs = ctx.op("op.minhash_pairs") {
        val p = Dedup.minHashPairs(f, "doc_id", "text", n = 3, numPerms = 16,
          bands = 4, threshold = 0.6)
        (p, p.count())
      }(_ => ())
      for ((p, nPairs) <- pairs) {
        ctx.count("near_dup_pairs", nPairs.toDouble)
        ctx.count("pair_passes", 1.0)
        ctx.op("op.drop_by_pairs") {
          val kept = Dedup.dropByPairs(f, "doc_id", p)
          (kept, kept.groupBy("source").count().collect())
        } { case (kept, perSource) => checkKept(ctx, kept, perSource.map(_.getLong(1)).sum) }
      }
    } finally filtered.foreach(_._1.unpersist())
  }

  /** Runs with the pass clock stopped (it reads the kept ids back). */
  private def checkKept(ctx: Ctx, kept: DataFrame, perSourceTotal: Long): Unit = {
    val ids = kept.select("doc_id").collect().map(_.getLong(0))
    require(ids.length == perSourceTotal,
      s"per-source counts sum to $perSourceTotal, ${ids.length} docs kept")
    require(ids.forall(words.contains), "a kept id is not an input id")
    val copies = ids.count(id => id >= Gen.ExactCopyBase && id < Gen.NearCopyBase)
    require(copies == 0, s"$copies injected exact copies were kept")
    val short = ids.count(id => words(id) < MinWords)
    require(short == 0, s"$short kept docs have fewer than $MinWords words (Gopher gate)")
    pinnedKept match {
      case None => pinnedKept = Some(ids.length.toLong)
      case Some(n) => require(ids.length == n, s"kept $n docs in an earlier pass, ${ids.length} now")
    }
    ctx.count("kept", ids.length.toDouble)
    ctx.count("kept_passes", 1.0)
  }

  def layerExtras(ctx: Ctx): Map[String, Double] = Map(
    "op.near_dup_pairs" ->
      ctx.counts("near_dup_pairs") / math.max(ctx.counts("pair_passes"), 1.0),
    "op.kept_frac" ->
      ctx.counts("kept") / math.max(ctx.counts("kept_passes"), 1.0) / inputDocs)
}

object CorpusCurate {
  val MinWords = 30
}
