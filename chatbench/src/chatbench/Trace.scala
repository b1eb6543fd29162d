package chatbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a program layer. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: the jobs that started while it was
  * the innermost open span, and their tasks.
  */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
}

/** In-memory span recorder plus a SparkListener that attributes jobs to the
  * span open when they started (via a job local property).
  */
final class Tracer(sc: SparkContext) {
  private val Prop = "chatbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = mutable.Map.empty[Int, SpanCounters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      if (sid >= 0) {
        jobStart(e.jobId) = (sid, e.time)
        e.stageIds.foreach(stageSpan(_) = sid)
        counters.getOrElseUpdate(sid, new SpanCounters).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (sid, t0) =>
        counters(sid).jobIntervals += ((t0, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { sid =>
        val c = counters.getOrElseUpdate(sid, new SpanCounters)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def apply[A](name: String, layer: String)(body: => A): A = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val s = Span(spans.size, name, layer, parent, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Prop,
        if (stack.isEmpty) null else stack.top.id.toString)
    }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** The named Spark counters of each layer, and the task GC time of all
    * spans so far. `outside_jobs_s` is driver-side time: a span's jobs all
    * start while it is the innermost open span, so its self time minus the
    * union of its job intervals is time outside any job.
    */
  def layerCounters(keys: Map[String, Seq[String]]): Map[String, Double] = {
    org.apache.spark.chatbench.ListenerDrain.drain(sc)
    synchronized {
      keys.toSeq.flatMap { case (layer, ks) =>
        val mine = spans.filter(_.layer == layer)
        val cs = mine.flatMap(s => counters.get(s.id))
        def outside = mine.map { s =>
          val jobsMs = counters.get(s.id).map(c => unionMs(c.jobIntervals.toSeq))
            .getOrElse(0L)
          math.max(0.0, selfSeconds(s) - jobsMs / 1000.0)
        }.sum
        ks.map(k => s"$layer.$k" -> (k match {
          case "jobs" => cs.map(_.jobs).sum.toDouble
          case "tasks" => cs.map(_.tasks).sum.toDouble
          case "shuffle_write_bytes" => cs.map(_.shuffleWriteBytes).sum.toDouble
          case "outside_jobs_s" => outside
        }))
      }.toMap + ("spark.task_gc_s" -> counters.values.map(_.gcMs).sum / 1000.0)
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      f""""parent":${s.parent},"start_s":${s.start / 1e9}%.6f,""" +
      f""""end_s":${s.end / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[", ",\n", "]")
}
