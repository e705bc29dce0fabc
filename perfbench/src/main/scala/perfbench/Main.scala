package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON result line (the last line of
  * stdout). Invoked by `perfbench/run.py`, which builds the classpath.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cores N [--scale full|tiny] [--corrupt 0|1]`.
  *
  * Phases: session start, fixture build, [[WarmupPasses]] untimed
  * warm-up passes, then timed passes: at least [[minPasses]], and more
  * until `--seconds` have elapsed. `setup_s` is the session start plus the
  * engine's time in the fixture build and the warm-up; input generation,
  * reference results and output checks are the harness's own work and
  * stay out of it. With `--trace 1`, timed passes run untraced, traced,
  * traced, untraced (repeating), so traced and untraced passes are
  * equally warm, and only the per-layer metrics are reported. */
object Main {
  /** A workload's first pass runs about twice as slow as a warm one, and
    * its second is still 10–30% slower than later ones. */
  val WarmupPasses = 2

  /** Timed passes run until `--seconds` have elapsed, but never fewer than
    * this many: with passes of several seconds, a purely time-based count
    * would vary between runs. A traced run times whole
    * untraced-traced-traced-untraced cycles. */
  def minPasses(trace: Boolean): Int = if (trace) TraceCycle else 2

  private val TraceCycle = 4

  private def tracedPass(i: Int): Boolean = i % TraceCycle == 1 || i % TraceCycle == 2

  /** Every pass starts from a collected heap, so a collection left over
    * from an earlier pass (and the shuffle clean-up Spark runs after one)
    * does not land at a random point in the next. */
  private def collectGarbage(): Unit = System.gc()

  /** The workload at its benchmark size, or at `tiny` size (self-check). */
  private def make(name: String, spark: SparkSession, seed: Long, work: String,
                   tiny: Boolean, corrupt: Boolean): Workload = name match {
    case "cube_build" =>
      new CubeBuild(spark, seed, Gen.Sizes(if (tiny) 1500 else 37500),
        if (tiny) 200 else 500, work, corrupt)
    case "versioned_mix" =>
      new VersionedMix(spark, seed, if (tiny) 1500 else 150000, if (tiny) 100 else 1000)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = opts("cores").toInt
    val tiny = opts.get("scale").contains("tiny")
    val corrupt = opts.get("corrupt").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w = make(workload, spark, seed, work, tiny, corrupt)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(tracer)

    val fixtureT0 = System.nanoTime()
    w.buildFixture(ctx, s"$work/fixture")
    val fixtureS = (System.nanoTime() - fixtureT0) / 1e9
    val fixtureEngineS = ctx.engineMs / 1e3
    val warmT0 = System.nanoTime()
    (1 to WarmupPasses).foreach { _ => collectGarbage(); w.pass(ctx, "warmup") }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + ctx.engineMs / 1e3

    ctx.samples.clear()
    ctx.counts.clear()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses(trace) || (trace && i % TraceCycle != 0) ||
      (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && tracedPass(i)
      if (traced) tracer.enable() else tracer.disable()
      collectGarbage()
      w.pass(ctx, if (traced) "pass.traced" else "pass")
      i += 1
    }
    tracer.disable()
    val gcDelta = gcMs - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    w.finish(ctx)

    val med = (k: String) => Ctx.median(ctx.samples.getOrElse(k, Nil))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_p50_ms", med("pass"), "ms"),
        ("write_p50_ms", med("write"), "ms"),
        ("read_p50_ms", med("read"), "ms"),
        ("bytes_per_row", w.bytesPerRow, "B/row"))
      else {
        val extras = w.layerExtras(ctx) ++ Map(
          "jvm.peak_heap_mb" -> peakHeapMb,
          "jvm.gc_ms" -> gcDelta.toDouble,
          "trace.overhead_frac" -> (med("pass.traced") / med("pass") - 1))
        val values = extras ++ (for (s <- Tracer.Spans; (m, _, f) <- Tracer.Measures)
          yield s"$s.$m" -> Ctx.median(tracer.spans.getOrElse(s, Nil).map(f)))
        Tracer.PerLayer.map { case (name, unit) =>
          val v = values.getOrElse(name, 0.0)
          (name, if (v.isNaN || v.isInfinite) 0.0 else v, unit)
        }
      }

    val detail = Json.obj(
      "workload" -> Json.str(workload),
      "local" -> Json.str(s"local[$cores]"),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "session_s" -> Json.num(sessionS),
      "fixture_s" -> Json.num(fixtureS),
      "fixture_engine_s" -> Json.num(fixtureEngineS),
      "warmup_s" -> Json.num(warmupS),
      "warmup_engine_s" -> Json.num(setupS - sessionS - fixtureEngineS),
      "warmup_passes" -> Json.num(WarmupPasses),
      "timed_s" -> Json.num((System.nanoTime() - t0) / 1e9),
      "samples" -> Json.obj(ctx.samples.toSeq.map { case (k, v) => k -> Json.num(v.size) }: _*),
      "sample_values" -> Json.obj(ctx.samples.toSeq.map { case (k, v) =>
        k -> Json.arr(v.toSeq.map(Json.num)) }: _*),
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str)))
    println(Json.obj(
      "correct" -> (if (ctx.failed == 0) "true" else "false"),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "detail" -> detail))
    spark.stop()
  }
}

/** Just enough JSON rendering for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
