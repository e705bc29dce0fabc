package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a fixture built from the seed, then passes of
  * one closed-loop client, then end-of-run checks. */
trait Workload {
  /** Build the inputs and initial state under `dir`. Calls into the
    * engine go through `ctx.engine`, so they count in `setup_s`; input
    * generation and the harness's reference results do not. */
  def buildFixture(ctx: Ctx, dir: String): Unit

  /** One pass: must wrap its calls in `ctx.pass(key)`. */
  def pass(ctx: Ctx, key: String): Unit

  /** End-of-run output checks, each counted as one operation. */
  def finish(ctx: Ctx): Unit = ()

  /** Stored bytes per row of the workload's output (see README). */
  def bytesPerRow: Double

  /** Layer metrics the workload measures itself (not span measures). */
  def layerExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  /** Total bytes of the files under `path` (or of `path` itself). */
  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
