package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload; writes its measurements as JSON to
  * `--out`. `run.py` builds this and drives it; see README.md. */
object Main {
  /** The same session as graft.Bench builds. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.fs.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.fs.NioLocalFs")
      // keep every file the run writes inside its work dir
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val spark = session(o)
    val run = new Run(spark, o)
    val e2e = o.workload match {
      case "pipeline-steady" => PipelineWorkloads.steady(run)
      case "query-mix" => QueryMix.run(run)
      case w => sys.error(s"unknown workload $w")
    }
    run.check("the run timed at least one cycle and one item") {
      e2e.cycleMs.nonEmpty && e2e.latencyMs.nonEmpty
    }
    val cycles = math.max(1.0, run.layer("samples.cycles"))
    run.finishLayers(cycles)
    if (o.trace) {
      Seq("ingest.tick" -> "ingest.tick_ms", "ingest.listing" -> "ingest.listing_ms",
        "graph.processed" -> "graph.processed_ms", "graph.backwards" -> "graph.backwards_ms")
        .foreach { case (span, key) => run.layer(key) = run.spanMs(span) / cycles }
      Seq("ingest.files_detected", "ingest.bulk_requests", "graph.backwards_rows_rewritten",
        "table.stage_ms", "table.harvest_ms", "table.promote_ms", "table.publish_ms")
        .foreach(k => run.layer(k) = run.layer(k) / cycles)
      run.layer("trace.tick_coverage") =
        run.tracer.childCoverage("tick", Seq("ingest.", "graph."))
      run.layer("traced.cycle_ms") = Run.median(e2e.cycleMs)
      run.layer("traced.latency_p50_ms") = Run.median(e2e.latencyMs)
      run.tracer.writeJsonLines(o.out.resolveSibling("spans.jsonl"))
    }
    run.layer("jvm.peak_rss_mb") = Run.peakRssMb()

    val endToEnd = Seq(
      "setup_s" -> run.setupS,
      "latency_p50_ms" -> Run.quantile(e2e.latencyMs, 0.5),
      "latency_p90_ms" -> Run.quantile(e2e.latencyMs, 0.9),
      "cycle_ms" -> Run.median(e2e.cycleMs))
    val env = Seq(
      "cores" -> o.cores.toString,
      "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(System.getProperty("java.vm.version")),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "seed" -> o.seed.toString,
      "cycles" -> Json.num(cycles),
      "latency_samples" -> e2e.latencyMs.size.toString,
      "measured_s" -> Json.num(run.measuredMs / 1000.0)) ++ run.env
    val json = Json.obj(Seq(
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "failures" -> run.failures.map(Json.str).mkString("[", ", ", "]"),
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(run.layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(env)))
    Files.writeString(o.out, json + "\n")
    spark.stop()
  }
}
