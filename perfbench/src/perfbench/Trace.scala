package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a call into a layer, named `<layer>.<call>`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. With tracing off, `span` only runs its body,
  * so the untraced run pays nothing for it. Spans nest by call order
  * (single driver thread) and are written out once, at the end. */
final class Tracer(val on: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, runId, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Share of the `outer` spans' time covered by their direct children
    * whose names start with one of `prefixes`. */
  def childCoverage(outer: String, prefixes: Seq[String]): Double = {
    val outers = named(outer)
    val ids = outers.map(_.id).toSet
    val covered = spans.filter(s => ids.contains(s.parent) &&
      prefixes.exists(s.name.startsWith)).map(_.ms).sum
    val total = outers.map(_.ms).sum
    if (total > 0) covered / total else 0.0
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark job and task records, registered only in the traced run. Both
  * carry the listener events' own wall-clock stamps, so the asynchronous
  * bus delivering them late does not skew which window they fall in. */
final class SparkStats extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val doneJobs = new ConcurrentLinkedQueue[(Long, Long)]()
  // (finish ms, input bytes, shuffle bytes written)
  private val doneTasks = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time)
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null) doneJobs.add((s.longValue, e.time))
    ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    doneTasks.add((e.taskInfo.finishTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
    ()
  }

  def jobs: Seq[(Long, Long)] = doneJobs.asScala.toSeq
  def tasks: Seq[(Long, Long, Long)] = doneTasks.asScala.toSeq
}

/** Micro-batch phase times from streaming progress events, stamped with
  * the trigger's start. */
final class StreamStats extends StreamingQueryListener {
  // (trigger start ms, input rows, phase -> ms)
  private val progress = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    ()
  }

  def triggers: Seq[(Long, Long, Map[String, Long])] = progress.asScala.toSeq
}

object Intervals {
  /** Total length of the union of `xs`, each clipped to one of `windows`. */
  def coveredWithin(xs: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val clipped = for {
      (ws, we) <- windows
      (s, e) <- xs
      cs = math.max(s, ws)
      ce = math.min(e, we)
      if ce > cs
    } yield (cs, ce)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
