package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One recorded interval. Times are epoch microseconds so benchmark spans
  * and Spark listener spans (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, var endUs: Long, op: Long)

/** In-memory span recorder. Disabled, every call is a plain pass-through,
  * so untraced runs execute the same code with no recording. Spans are
  * kept in memory and written out once, at exit. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  @volatile var enabled = false
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Op id spans are attributed to; jobs inherit it via a local property. */
  var currentOp = 0L

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val parent = if (stack.isEmpty) 0L else stack.top.id
    val s = synchronized {
      val s = Span(nextId, parent, name, layer, nowUs(), -1L, currentOp)
      nextId += 1
      spans += s
      s
    }
    stack.push(s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endUs = nowUs()
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProp, if (stack.isEmpty) null else stack.top.id.toString)
    }
  }

  /** Add listener-derived spans (jobs, stages) recorded off-thread. */
  def addExternal(name: String, layer: String, parent: Long, startUs: Long, endUs: Long,
      op: Long): Long = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, layer, startUs, endUs, op)
    id
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val OpProp = "graftbench.op"

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals (clipped to the span), summed by layer. */
  def selfTimeUs(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.endUs >= 0).groupMapReduce(_.layer) { s =>
      val iv = children.getOrElse(s.id, Nil).filter(_.endUs >= 0)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      (s.endUs - s.startUs) - covered
    }(_ + _)
  }
}

/** Spark listener that turns jobs and stages into child spans of the
  * benchmark span that launched them, and sums task metrics for the ops
  * being traced. Only jobs started with an op id set are counted. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, waitMs, inputBytes, shReadBytes, shWriteBytes, spillBytes = 0L
  }
  val agg = new Agg
  private final case class JobRec(parent: Long, op: Long, startUs: Long)
  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val doneStages = mutable.Map[Int, mutable.ArrayBuffer[(Int, Long, Long)]]()

  private def prop(e: java.util.Properties, k: String): Option[Long] =
    Option(e).flatMap(p => Option(p.getProperty(k))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, Tracer.OpProp).filter(_ > 0).foreach { op =>
      jobs(e.jobId) = JobRec(prop(e.properties, Tracer.SpanProp).getOrElse(0L), op, e.time * 1000L)
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
      agg.jobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { job =>
      agg.stages += 1
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      doneStages.getOrElseUpdate(job, mutable.ArrayBuffer()) +=
        ((info.stageId, info.submissionTime.getOrElse(end) * 1000L, end * 1000L))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      val id = tracer.addExternal(s"job ${e.jobId}", "spark_exec", j.parent, j.startUs, e.time * 1000L, j.op)
      doneStages.remove(e.jobId).getOrElse(Nil).foreach { case (st, s, t) =>
        tracer.addExternal(s"stage $st", "spark_exec", id, s, t, j.op)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      agg.tasks += 1
      agg.cpuNs += m.executorCpuTime
      agg.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      agg.inputBytes += m.inputMetrics.bytesRead
      agg.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      agg.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      agg.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
