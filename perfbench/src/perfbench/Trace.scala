package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call: name, start, end, parent span and op id. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans around layer calls on the client thread. While disabled,
  * `span` is a plain call. While enabled, every Spark job the client thread
  * starts carries the innermost span id as a local property, which is how
  * [[JobListener]] attributes jobs, tasks and bytes to spans. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 1
  private var op = -1
  private var enabled = false

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack = (id, System.nanoTime()) :: stack
      try body
      finally {
        val end = System.nanoTime()
        val start = stack.head._2
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._1.toString).orNull)
        done += Span(id, name, op, parent, start, end)
      }
    }

  def beginOp(id: Int, traced: Boolean): Unit = {
    op = id
    enabled = traced
  }

  def endOp(): Unit = {
    enabled = false
    sc.setLocalProperty(Tracer.SpanKey, null)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

final case class JobRec(span: Int, startMs: Long) {
  var endMs: Long = -1L
}

final class StageRec {
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Counts jobs, tasks and task I/O per span. Jobs started outside a traced
  * op carry no span and are counted under span 0. Events arrive on Spark's
  * listener thread, so every access is synchronized; call
  * [[org.apache.spark.PerfbenchBus.drain]] before reading the totals. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stages = mutable.HashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = JobRec(span, e.time)
    // a reused shuffle stage keeps the span of the job that first ran it
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate(e.stageId, new StageRec)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.inputBytes += m.inputMetrics.bytesRead
      r.inputRecords += m.inputMetrics.recordsRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      r.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** Task totals of the stages first run under each span id. */
  def stageTotalsBySpan: Map[Int, StageRec] = synchronized {
    val out = mutable.HashMap[Int, StageRec]()
    stages.foreach { case (sid, r) =>
      val t = out.getOrElseUpdate(stageSpan.getOrElse(sid, 0), new StageRec)
      t.tasks += r.tasks
      t.inputBytes += r.inputBytes
      t.inputRecords += r.inputRecords
      t.shuffleWriteBytes += r.shuffleWriteBytes
      t.spillBytes += r.spillBytes
      t.outputBytes += r.outputBytes
    }
    out.toMap
  }
}

/** Per-layer figures derived from spans and listener records. */
final class TraceView(spans: Seq[Span], jobs: Seq[JobRec], stageBySpan: Map[Int, StageRec]) {
  private val byId = spans.map(s => s.id -> s).toMap

  /** Nearest span named `name` at or above span `id`. */
  private def enclosing(id: Int, name: String): Option[Span] = {
    var cur = byId.get(id)
    while (cur.exists(_.name != name)) cur = cur.flatMap(s => byId.get(s.parent))
    cur
  }

  def spanCount: Int = spans.size

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Spans named `name` inside a span named `ancestor`. */
  def namedUnder(name: String, ancestor: String): Seq[Span] =
    named(name).filter(s => enclosing(s.parent, ancestor).isDefined)

  /** Self time: duration minus the time of direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def jobsIn(name: String): Seq[(Span, JobRec)] =
    jobs.flatMap(j => enclosing(j.span, name).map(_ -> j))

  def jobsPer(name: String): Double = {
    val n = named(name).size
    if (n == 0) 0.0 else jobsIn(name).size.toDouble / n
  }

  def stagesIn(name: String): Seq[StageRec] =
    stageBySpan.toSeq.flatMap { case (sid, r) => enclosing(sid, name).map(_ => r) }

  def tasksPer(name: String): Double = {
    val n = named(name).size
    if (n == 0) 0.0 else stagesIn(name).map(_.tasks).sum.toDouble / n
  }

  /** Median over spans `name` of wall time during which none of the
    * span's Spark jobs was running. */
  def driverOnlyMs(name: String): Double = {
    val jobsBySpan = jobsIn(name).groupBy(_._1.id)
    Stats.median(named(name).map { s =>
      val intervals = jobsBySpan.getOrElse(s.id, Nil).map(_._2)
        .filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var covered = 0L
      var curStart = -1L
      var curEnd = -1L
      intervals.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd >= 0) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd >= 0) covered += curEnd - curStart
      math.max(0.0, s.ms - covered)
    })
  }
}
