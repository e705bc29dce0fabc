package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw inside one span: wall time plus the Spark work
  * the span's calls caused. */
final case class SpanStat(ms: Double, jobs: Long, tasks: Long,
                          planningMs: Double, executorCpuMs: Double,
                          gcMs: Double, shuffleBytes: Long,
                          outputBytes: Long, inputRecords: Long)

/** Spans around the harness's calls into each layer. While enabled, a
  * [[SparkListener]] and a [[QueryExecutionListener]] count jobs, tasks,
  * executor CPU, GC, shuffle and output bytes, input records and driver
  * planning time; a span's counts are the counters' growth between its
  * start and its end, read after the listener bus has drained. Disabled,
  * [[span]] is a plain call, so untraced runs pay nothing. */
final class Tracer(spark: SparkSession) {
  private val jobs, tasks, cpuNs, gcMs, shuffleB, outputB, inputR, planMs =
    new AtomicLong

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        outputB.addAndGet(m.outputMetrics.bytesWritten)
        inputR.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.valuesIterator.map(_.durationMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private var on = false
  val spans: mutable.LinkedHashMap[String, mutable.ArrayBuffer[SpanStat]] =
    mutable.LinkedHashMap.empty

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def disable(): Unit = if (on) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  private def counters(): Array[Long] =
    Array(jobs, tasks, cpuNs, gcMs, shuffleB, outputB, inputR, planMs).map(_.get)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      Bus.drain(spark.sparkContext)
      val before = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        Bus.drain(spark.sparkContext)
        val d = counters().zip(before).map { case (a, b) => a - b }
        spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += SpanStat(
          ms, d(0), d(1), d(7).toDouble, d(2) / 1e6, d(3).toDouble, d(4), d(5), d(6))
      }
    }
}

object Tracer {
  /** The measures reported for every span: name suffix, unit, accessor. */
  val Measures: Seq[(String, String, SpanStat => Double)] = Seq(
    ("ms", "ms", _.ms),
    ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("planning_ms", "ms", _.planningMs),
    ("executor_cpu_ms", "ms", _.executorCpuMs),
    ("gc_ms", "ms", _.gcMs),
    ("shuffle_bytes", "B", _.shuffleBytes.toDouble),
    ("output_bytes", "B", _.outputBytes.toDouble))

  /** Every span the harness records, by layer; the per-layer metric names
    * are `<span>.<measure>`. */
  val Spans: Seq[String] = Seq(
    "etl.dim_load", "etl.fact_load", "etl.read_back",
    "vt.upsert", "vt.lookup", "vt.changes",
    "mv.apply_changes",
    "sql.range_agg",
    "op.filter_stages", "op.minhash_pairs", "op.drop_by_pairs")

  /** Layer metrics that are not per-span measures, with their units. */
  val Extras: Seq[(String, String)] = Seq(
    "vt.write_amp" -> "ratio",
    "vt.head_files" -> "count",
    "vt.rows_read_per_lookup" -> "ratio",
    "sql.rows_read_per_row" -> "ratio",
    "op.near_dup_pairs" -> "count",
    "op.kept_frac" -> "ratio",
    "jvm.peak_heap_mb" -> "MB",
    "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "ratio")

  /** All per-layer metric names with units, in report order. */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => Measures.map { case (m, u, _) => s"$s.$m" -> u }) ++ Extras
}
