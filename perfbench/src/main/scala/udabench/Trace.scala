package udabench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Probe {
  /** Running totals since the probe was created. */
  final case class Snap(tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shBytes: Long, shRecords: Long, shWriteNs: Long,
                        fetchWaitMs: Long, spillBytes: Long, inBytes: Long,
                        outBytes: Long, jobs: Long, stages: Long, stagesSeen: Int) {
    def -(o: Snap): Snap = Snap(tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
      gcMs - o.gcMs, shBytes - o.shBytes, shRecords - o.shRecords,
      shWriteNs - o.shWriteNs, fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes,
      inBytes - o.inBytes, outBytes - o.outBytes, jobs - o.jobs, stages - o.stages,
      stagesSeen)
  }
}

/** Task-metric totals and job spans, collected by a listener that is
  * attached only for traced passes and module calls. */
final class Probe extends SparkListener {
  import Probe.Snap

  private var cur = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock ms of every finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task durations (ms) per stage, in the order stages were first seen. */
  val stageTasks = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def snap(): Snap = synchronized(cur.copy(stagesSeen = stageTasks.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    cur = cur.copy(jobs = cur.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur = cur.copy(stages = cur.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cur = Snap(cur.tasks + 1, cur.runMs + m.executorRunTime,
        cur.cpuNs + m.executorCpuTime, cur.gcMs + m.jvmGCTime,
        cur.shBytes + m.shuffleWriteMetrics.bytesWritten,
        cur.shRecords + m.shuffleWriteMetrics.recordsWritten,
        cur.shWriteNs + m.shuffleWriteMetrics.writeTime,
        cur.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        cur.spillBytes + m.diskBytesSpilled,
        cur.inBytes + m.inputMetrics.bytesRead,
        cur.outBytes + m.outputMetrics.bytesWritten,
        cur.jobs, cur.stages, 0)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }
}

/** One timed call into a layer. Spans share the pass id of the pass
  * that caused them and carry the Spark job group their jobs ran in. */
final case class Span(id: Int, parent: Int, layer: String, pass: Int,
                      group: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val GroupKey = "spark.jobGroup.id"

  def span[T](layer: String, pass: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val group = s"pass-$pass/$layer"
      val outer = sc.getLocalProperty(GroupKey)
      spans += Span(id, open.headOption.getOrElse(-1), layer, pass, group, System.nanoTime(), 0L)
      open = id :: open
      sc.setLocalProperty(GroupKey, group)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
        sc.setLocalProperty(GroupKey, outer)
      }
    }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs - Stats.covered(kids, s.startNs, s.endNs)) / 1e9
  }

  /** Median self time per layer. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> Stats.median(ss.map(selfSeconds).toSeq) }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "pass" -> s.pass, "job_group" -> s.group, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_s" -> selfSeconds(s))))
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = Long.MinValue
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { total += b - from; end = b }
      }
    total
  }
}

/** Minimal JSON writer for the result file and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
