package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

/** `SparkEntry` rows over the seeded tables ([[Run.QueryRows]]): one
  * untimed pass, which writes the results the oracle check reads, then
  * timed passes. Each row's figure is its median over the passes. */
object QueryMix {
  // timed passes run until `--seconds` have been measured, and at least
  // this many, so every row's median has the same minimum support
  val MinPasses = 3

  def run(run: Run): E2e = {
    val spark = run.spark
    val dir = run.opts.tables.getOrElse(sys.error("query-mix needs --tables"))
    val results = run.opts.work.resolve("results")
    def noop(r: String): Unit =
      SparkEntry.queries(r)(spark, dir).write.format("noop").mode("overwrite").save()

    // set-up: one untimed pass, as graft.Bench warms up; its results are
    // what the oracle check compares
    Run.QueryRows.foreach { r =>
      run.op(s"warm-up $r") {
        SparkEntry.queries(r)(spark, dir).write.mode("overwrite")
          .parquet(results.resolve(r).toString)
      }
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(results.resolve("oracle_sql.json"), Run.QueryRows.map { r =>
      s"${Json.str(r)}: ${Json.str(oracle(r))}" }.mkString("{", ",\n", "}"))

    // timed passes in a fixed order, each row materialized through the
    // noop sink like graft.Bench; a row that throws keeps its time
    val times = mutable.LinkedHashMap(Run.QueryRows.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var passes = 0
    while (passes < MinPasses || run.measuredMs < run.opts.seconds * 1000) {
      Run.QueryRows.foreach { r =>
        val t0Ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        run.measured {
          run.op(r) {
            run.tracer.span(s"query.$r") {
              noop(r)
            }
          }
        }
        times(r) += (System.nanoTime() - t0) / 1e6
        if (run.opts.trace) run.layer("table.commits") +=
          commitsSince(run.opts.work.resolve("tmp").toFile, t0Ms)
      }
      passes += 1
    }
    val rowMs = Run.QueryRows.map(r => Run.median(times(r).toSeq))
    Run.QueryRows.zip(rowMs).foreach { case (r, ms) => run.layer(s"query.${r}_s") = ms / 1000 }
    run.env("row_ms") = Json.str(times.map { case (r, ts) =>
      s"$r=${ts.map(t => f"$t%.0f").mkString("/")}" }.mkString(" "))
    run.layer("samples.cycles") = passes.toDouble
    run.layer("samples.items") = Run.QueryRows.size.toDouble * passes
    run.layer("table.commits") /= passes
    // a pass is the sum of the rows' medians; the latency quantiles are
    // taken over the rows' medians
    E2e(Seq(rowMs.sum), rowMs)
  }

  /** Commit records written since `sinceMs` by the tables the rows
    * create under `dir` (each table's log holds one JSON file per
    * commit). Earlier rows' tables may be deleted meanwhile. */
  private def commitsSince(dir: java.io.File, sinceMs: Long): Int = {
    def walk(f: java.io.File): Int = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map { c =>
      if (c.getName == "_graft_log")
        Option(c.listFiles()).map(_.count(j => j.getName.endsWith(".json") &&
          !j.getName.endsWith(".checkpoint.json") && j.lastModified >= sinceMs)).getOrElse(0)
      else if (c.isDirectory) walk(c)
      else 0
    }.sum
    walk(dir)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
