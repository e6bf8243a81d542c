package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.table.{IncrementalTable, WriteTiming}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: Path, tables: Option[String],
    out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, Paths.get(kv("work")),
      kv.get("tables"), Paths.get(kv("out")))
  }
}

/** Everything one benchmark run accumulates: measured windows, failure
  * accounting, per-layer counters and (traced run only) the listeners. */
final class Run(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(opts.trace, s"${opts.workload}-${opts.seed}")
  val sparkStats: Option[SparkStats] =
    if (opts.trace) Some(new SparkStats) else None
  val streamStats: Option[StreamStats] =
    if (opts.trace) Some(new StreamStats) else None
  sparkStats.foreach(spark.sparkContext.addSparkListener)
  streamStats.foreach(spark.streams.addListener)

  /** Per-layer counters, every one present (zero where a layer is idle). */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Run.LayerMetrics.map(_ -> 0.0): _*)
  /** Adds to a per-layer counter; only measured time counts. */
  def add(key: String, v: Double): Unit =
    if (inWindow) layer(key) = layer(key) + v

  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val windowsNs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var inWindow = false
  private var setupEndMs = 0L
  /** From JVM start to the first measured operation: session start-up,
    * inputs, history and warm-up — so work moved out of the measured
    * loop shows here. */
  def setupS: Double = (setupEndMs -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  private var compilesInWindows = 0L

  /** Run `body` as measured time: every per-layer figure counts only
    * inside these windows, so warm-up and set-up stay out of them. */
  def measured[T](body: => T): T = {
    val c0 = Run.compiles()
    val s = System.currentTimeMillis()
    if (setupEndMs == 0L) setupEndMs = s
    val sNs = System.nanoTime()
    inWindow = true
    try body
    finally {
      inWindow = false
      windows += ((s, System.currentTimeMillis()))
      windowsNs += ((sNs, System.nanoTime()))
      compilesInWindows += Run.compiles() - c0
    }
  }
  def measuredMs: Long = windows.map { case (s, e) => e - s }.sum

  /** Total time of the spans named `name` that started in measured time. */
  def spanMs(name: String): Double = tracer.named(name)
    .filter(sp => windowsNs.exists { case (s, e) => sp.startNs >= s && sp.startNs < e })
    .map(_.ms).sum

  /** Extra environment-line entries, as JSON values. */
  val env = mutable.LinkedHashMap.empty[String, String]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One attempted operation; a throw counts as failed and returns None
    * (the caller still bills the time it took). */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => fail(s"$what threw ${e.getClass.getName}: ${e.getMessage}"); false
    }
    if (!pass) fail(what)
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Fold the traced run's listener counts into the layer map, divided
    * by `cycles` so totals compare across runs of different length. */
  def finishLayers(cycles: Double): Unit = {
    if (!opts.trace) return
    Run.drainListenerBus(spark)
    val win = windows.toSeq
    def inWin(t: Long) = win.exists { case (s, e) => t >= s && t < e }
    val jobs = sparkStats.get.jobs.filter { case (s, _) => inWin(s) }
    val busy = Intervals.coveredWithin(sparkStats.get.jobs, win).toDouble
    val wall = measuredMs.toDouble
    layer("driver.gap_ms") = (wall - busy) / cycles
    layer("driver.gap_frac") = if (wall > 0) (wall - busy) / wall else 0.0
    layer("codegen.compiles") = compilesInWindows / cycles
    layer("spark.jobs") = jobs.size / cycles
    layer("spark.job_ms") = jobs.map { case (s, e) => e - s }.sum / cycles
    val tasks = sparkStats.get.tasks.filter(t => inWin(t._1))
    layer("spark.tasks") = tasks.size / cycles
    layer("spark.input_bytes") = tasks.map(_._2).sum / cycles
    layer("spark.shuffle_write_bytes") = tasks.map(_._3).sum / cycles
    val trig = streamStats.get.triggers.filter(t => inWin(t._1))
    def phase(k: String) = trig.map(_._3.getOrElse(k, 0L)).sum / cycles
    layer("streaming.triggers") = trig.size / cycles
    layer("streaming.input_rows") = trig.map(_._2).sum / cycles
    layer("streaming.add_batch_ms") = phase("addBatch")
    layer("streaming.get_batch_ms") = phase("getBatch")
    layer("streaming.query_planning_ms") = phase("queryPlanning")
    layer("streaming.wal_commit_ms") = phase("walCommit")
    layer("trace.spans") = tracer.all.size.toDouble
  }
}

/** Commit-phase times of one table handle, read after each call from
  * `lastWriteTiming` (a new value means the call made a data commit). */
final class TableTimes(t: IncrementalTable) {
  private var last: Option[WriteTiming] = t.lastWriteTiming
  def collect(run: Run): Unit = {
    val cur = t.lastWriteTiming
    if (cur.isDefined && (cur ne last)) {
      val w = cur.get
      run.add("table.stage_ms", w.stageMs.toDouble)
      run.add("table.harvest_ms", w.harvestMs.toDouble)
      run.add("table.promote_ms", w.promoteMs.toDouble)
      run.add("table.publish_ms", w.publishMs.toDouble)
    }
    last = cur
  }
}

object Run {
  // one row per surface the pipeline never touches: a shuffle join, the
  // SQL catalog maintaining a materialized view over several commits, and
  // a windowed stream
  val QueryRows: Seq[String] = Seq("q4_join_agg", "q164_sql_matview",
    "q107_stream_window")

  val LayerMetrics: Seq[String] = Seq(
    "driver.gap_ms", "driver.gap_frac", "codegen.compiles",
    "spark.jobs", "spark.job_ms", "spark.tasks", "spark.input_bytes",
    "spark.shuffle_write_bytes",
    "ingest.tick_ms", "ingest.listing_ms", "ingest.files_detected",
    "ingest.bulk_requests",
    "graph.processed_ms", "graph.backwards_ms", "graph.backwards_rows_rewritten",
    "table.commits", "table.stage_ms", "table.harvest_ms", "table.promote_ms",
    "table.publish_ms", "table.live_files", "table.live_bytes",
    "streaming.triggers", "streaming.add_batch_ms", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.input_rows") ++
    QueryRows.map(r => s"query.${r}_s") ++ Seq(
    "gen.lag_p50_ms", "gen.lag_max_ms", "samples.items", "samples.cycles",
    "ops.failed_frac", "jvm.peak_rss_mb", "trace.spans", "trace.tick_coverage",
    "traced.cycle_ms", "traced.latency_p50_ms")

  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.waitForListeners(spark.sparkContext)

  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]; NaN
    * when there is no sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
