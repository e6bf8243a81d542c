package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import graft.app.Pipeline
import graft.ingest.Generator

/** A file the benchmark's generator dropped: `dueNs` is when the
  * schedule wanted it, `doneNs` when it was on disk. */
final case class Dropped(name: String, day: String, path: Path, dueNs: Long, doneNs: Long)

/** What one sensor-loop iteration made visible: for each day it ran the
  * DAG for, the instant its `runBackwards` returned and the day's
  * processed watermark after it (the count of files visible so far,
  * whatever shape the sensor's request had). */
final case class TickOut(startNs: Long, endNs: Long,
    days: Seq[(String, Long, Long)])

/** A run's end-to-end samples: one duration per measured cycle (tick
  * or query pass) and one latency per item (file or query row). */
final case class E2e(cycleMs: Seq[Double], latencyMs: Seq[Double])

object PipelineWorkloads {
  // pipeline-steady: one day with this much history, then an open loop
  val SteadyHistory = 500
  val SteadyFilesPerS = 5.0
  val SteadyLeadS = 5.0

  private val SteadyDay = LocalDate.parse("2024-05-01")

  final class Handles(val pipe: Pipeline) {
    val listing = new TableTimes(pipe.listing)
    val processed = new TableTimes(pipe.processed)
    val backwards = new TableTimes(pipe.backwards)
  }

  def newPipeline(run: Run, root: Path): Handles = new Handles(new Pipeline(
    run.spark, root.resolve("ingest").toString, root.resolve("tables").toString))

  /** One iteration of `Pipeline.runForever`'s body, i.e.
    * `tickAndIngest(now, scanAllDays)` then `runAll` per returned day,
    * spelled out through the same public calls so each is timed. */
  def tick(run: Run, h: Handles, now: LocalDate, scanAllDays: Boolean): TickOut = {
    val tr = run.tracer
    val pipe = h.pipe
    val done = mutable.ArrayBuffer.empty[(String, Long)]
    val t0 = System.nanoTime()
    run.op(s"tick $now") {
      tr.span("tick") {
        val reqs = tr.span("ingest.tick")(pipe.sensor.tick(now, scanAllDays))
        reqs.foreach { r =>
          tr.span("ingest.listing")(pipe.runListing(r))
          if (tr.on) h.listing.collect(run)
        }
        tr.span("ingest.commit_clock")(pipe.sensor.commitClock())
        reqs.foreach { r =>
          tr.span("graph.processed")(pipe.runProcessed(r.day))
          if (tr.on) h.processed.collect(run)
          tr.span("graph.backwards")(pipe.runBackwards(r.day))
          done += ((r.day, System.nanoTime()))
          if (tr.on) h.backwards.collect(run)
        }
        run.add("ingest.files_detected", reqs.map(_.newFiles.size).sum.toDouble)
        run.add("ingest.bulk_requests", reqs.count(_.bulk.isDefined).toDouble)
      }
    }
    val t1 = System.nanoTime()
    // read after the tick's end, so the timing holds only the program's calls
    val days = done.toSeq.map { case (day, at) =>
      val seen = pipe.processed.latestMeta(s"watermark/$day").map(_.toLong).getOrElse(0L)
      // backwards replaces the whole day partition: one row per file
      // listed so far, which is the processed watermark
      run.add("graph.backwards_rows_rewritten", seen.toDouble)
      (day, at, seen)
    }
    TickOut(t0, t1, days)
  }

  /** Every dropped file has exactly one `processed` row holding its
    * content and one `backwards` row holding the reversed content, and
    * each day's committed watermark equals its file count. */
  def verify(run: Run, pipe: Pipeline, files: Seq[Dropped]): Unit = {
    val spark = run.spark
    import spark.implicits._
    val expect = files.map(f => f.name -> Files.readString(f.path)).toMap
    def rows(t: graft.table.IncrementalTable): Map[String, Seq[String]] =
      t.read().select($"filename", $"word").as[(String, String)].collect()
        .toSeq.groupMap(_._1)(_._2)
    run.check("processed holds one row per file with its content") {
      val got = rows(pipe.processed)
      got.size == expect.size && got.forall { case (f, ws) =>
        ws.size == 1 && expect.get(f).contains(ws.head) }
    }
    run.check("backwards holds one row per file with its content reversed") {
      val got = rows(pipe.backwards)
      got.size == expect.size && got.forall { case (f, ws) =>
        ws.size == 1 && expect.get(f).map(_.reverse).contains(ws.head) }
    }
    files.groupBy(_.day).foreach { case (day, fs) =>
      run.check(s"watermark of $day equals its ${fs.size} files") {
        pipe.processed.latestMeta(s"watermark/$day").contains(fs.size.toString)
      }
    }
  }

  private def drop(gen: Generator, n: Int, day: LocalDate): Seq[Dropped] =
    gen.drop(n, day).map(p => Dropped(p.getFileName.toString, day.toString, p, 0L, 0L))

  /** Commits and live files of the three assets' tables (traced run). */
  private def tableState(run: Run, pipe: Pipeline): (Long, Long, Long) =
    if (!run.opts.trace) (0L, 0L, 0L)
    else {
      val ts = Seq(pipe.listing, pipe.processed, pipe.backwards)
      (ts.map(_.latestVersion + 1).sum, ts.map(_.liveFileCount()).sum,
        ts.map(_.liveBytes()).sum)
    }

  /** History backfill, then an open loop: a generator thread drops files
    * on a seeded schedule while the main thread runs the sensor loop back
    * to back, unmeasured for the first [[SteadyLeadS]] seconds. Freshness
    * is measured from each file's due time. */
  def steady(run: Run): E2e = {
    val day = SteadyDay
    val root = run.opts.work.resolve("steady")
    val gen = new Generator(root.resolve("ingest").toString,
      seed = run.opts.seed, baseIntervalMillis = 0, jitterMillis = 0)
    val all = mutable.ArrayBuffer.from(drop(gen, SteadyHistory, day))
    val h = newPipeline(run, root)
    tick(run, h, day, scanAllDays = true)

    val rnd = new scala.util.Random(run.opts.seed)
    val n = math.ceil((run.opts.seconds + SteadyLeadS) * SteadyFilesPerS * 3).toInt + 10
    val start = System.nanoTime() + 50000000L
    val due = (0 until n).scanLeft(start) { (t, _) =>
      t + ((0.5 + rnd.nextDouble()) / SteadyFilesPerS * 1e9).toLong }.tail
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Dropped]()
    @volatile var stop = false
    val producer = new Thread(() => {
      val it = due.iterator
      while (!stop && it.hasNext) {
        val d = it.next()
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if (!stop) {
          val p = gen.dropOne(day)
          arrivals.add(Dropped(p.getFileName.toString, day.toString, p, d, System.nanoTime()))
        }
      }
    }, "perfbench-generator")
    producer.setDaemon(true)

    val ticks = mutable.ArrayBuffer.empty[TickOut]
    val loopStart = start + (SteadyLeadS * 1e9).toLong
    val end = loopStart + (run.opts.seconds * 1e9).toLong
    producer.start()
    // the loop's first ticks are its fastest and their time grows
    // steeply, as each tick adds small files the next ones read; running
    // them unmeasured puts the measured ticks past that stretch
    while (System.nanoTime() < loopStart) tick(run, h, day, scanAllDays = false)
    val seenBefore = h.pipe.processed.latestMeta(s"watermark/$day").map(_.toLong).getOrElse(0L)
    val (commits0, _, _) = tableState(run, h.pipe)
    run.measured {
      while (System.nanoTime() < end) ticks += tick(run, h, day, scanAllDays = false)
    }
    stop = true
    producer.join()
    val (commits1, liveFiles, liveBytes) = tableState(run, h.pipe)
    run.layer("table.commits") = (commits1 - commits0).toDouble / ticks.size
    run.layer("table.live_files") = liveFiles.toDouble
    run.layer("table.live_bytes") = liveBytes.toDouble
    // one untimed drain tick makes the files dropped during the last
    // measured tick visible, so the correctness check covers them all
    tick(run, h, day, scanAllDays = false)

    import scala.jdk.CollectionConverters._
    val dropped = arrivals.asScala.toSeq
    all ++= dropped
    // a file is visible from the first tick whose watermark passed its
    // listing seq, whether the sensor's request named it or covered it in
    // bulk; files visible before the measured ticks have no sample
    val spark = run.spark
    import spark.implicits._
    val seqOf = h.pipe.listingFor(day.toString).as[(Long, String)].collect()
      .map { case (seq, name) => name -> seq }.toMap
    val seen = ticks.toSeq.flatMap(_.days).collect { case (d, at, wm) if d == day.toString => (at, wm) }
    val timedFiles = dropped.filter(d => seqOf.get(d.name).forall(_ >= seenBefore))
    val visibleAt = timedFiles.flatMap(d => seqOf.get(d.name)
      .flatMap(seq => seen.find(_._2 > seq)).map(v => d -> v._1))
    val fresh = visibleAt.map { case (d, at) => (at - d.dueNs) / 1e6 }
    val lastStart = ticks.lastOption.map(_.startNs).getOrElse(Long.MinValue)
    run.check("every file dropped before the last measured tick has a freshness sample") {
      val timed = visibleAt.map(_._1.name).toSet
      fresh.nonEmpty && timedFiles.filter(_.doneNs < lastStart).forall(d => timed(d.name))
    }
    val lag = dropped.map(d => (d.doneNs - d.dueNs) / 1e6)
    run.layer("gen.lag_p50_ms") = Run.median(lag)
    run.layer("gen.lag_max_ms") = if (lag.isEmpty) 0.0 else lag.max
    run.env("tick_ms") = Json.str(ticks.map(t => f"${(t.endNs - t.startNs) / 1e6}%.0f").mkString("/"))
    run.layer("samples.items") = fresh.size.toDouble
    run.layer("samples.cycles") = ticks.size.toDouble
    verify(run, h.pipe, all.toSeq)
    Run.deleteTree(root)
    E2e(ticks.map(t => (t.endNs - t.startNs) / 1e6).toSeq, fresh)
  }
}
