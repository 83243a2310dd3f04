package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder plus the benchmark's own SparkListener.
  *
  * Spans wrap the harness's calls into the engine (name, start, end,
  * parent, op id); nothing inside the engine is instrumented. Spark
  * work is attributed to spans by TIME WINDOW: the loop has a single
  * client, so a job, stage or task that starts while a span is open
  * belongs to the innermost such span. Job groups would not do —
  * `graft.fed.Orchestrator` submits from global-pool threads, which do
  * not inherit local properties.
  *
  * Disabled (the untraced runs), `span` is a plain call and no
  * listener is registered. */
final class Tracer {
  import Tracer._

  private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1L
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private var listening: Option[org.apache.spark.SparkContext] = None

  // Span clocks are nanoTime; Spark stamps events with epoch millis.
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def enabled: Boolean = on

  def start(sc: org.apache.spark.SparkContext): Unit = {
    on = true
    sc.addSparkListener(listener)
    listening = Some(sc)
  }

  /** Wait until every started job has ended on the listener bus, then
    * detach. Events carry their own timestamps, so late delivery does
    * not change attribution. */
  def stop(): Unit = {
    on = false
    listening.foreach { sc =>
      val deadline = System.nanoTime() + 10000000000L
      def settled = listener.synchronized(jobs.values.forall(_.endMs >= 0))
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      sc.removeSparkListener(listener)
    }
    listening = None
  }

  def beginOp(id: Long): Unit = opId = id

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, opId, System.nanoTime() + epochOffsetNs, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime() + epochOffsetNs)
      }
    }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (i.submissionTime.isDefined && m != null)
        stages += Stage(i.submissionTime.get, m.executorCpuTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Closed spans and the Spark work attributed to each, by span id. */
  def report(): Report = listener.synchronized {
    val closed = spans.filter(_.endNs >= 0).toVector
    // innermost span containing an epoch-ms instant
    val byStart = closed.sortBy(_.startNs)
    def owner(ms: Long): Option[Int] = {
      val ns = ms * 1000000L
      byStart.iterator.filter(s => s.startNs <= ns + 999999L && ns <= s.endNs)
        .foldLeft(Option.empty[Span]) { (best, s) =>
          if (best.forall(b => depth(s) > depth(b))) Some(s) else best
        }.map(_.id)
    }
    val jobOwner = jobs.values.toVector.flatMap(j => owner(j.startMs).map(_ -> j))
    val stageOwner = stages.toVector.flatMap(s => owner(s.submitMs).map(_ -> s))
    Report(closed, jobOwner.groupMap(_._1)(_._2), stageOwner.groupMap(_._1)(_._2))
  }

  private def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Write the spans (one JSON object a line) for offline reading. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Long,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Stage(submitMs: Long, cpuNs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long)

  final case class Report(spans: Vector[Span], jobs: Map[Int, Vector[Job]],
      stages: Map[Int, Vector[Stage]]) {
    private val children = spans.groupBy(_.parent)

    /** Spans with this name. */
    def named(name: String): Vector[Span] = spans.filter(_.name == name)

    /** A span plus all its descendants. */
    def subtree(s: Span): Vector[Span] =
      s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

    /** Span time minus the time its direct children cover. */
    def selfSeconds(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Vector.empty).map(_.seconds).sum

    def jobsUnder(s: Span): Vector[Job] = subtree(s).flatMap(x => jobs.getOrElse(x.id, Vector.empty))
    def stagesUnder(s: Span): Vector[Stage] = subtree(s).flatMap(x => stages.getOrElse(x.id, Vector.empty))

    /** Span time during which no Spark job of the span was running. */
    def driverSeconds(s: Span): Double = {
      val lo = s.startNs / 1000000L; val hi = s.endNs / 1000000L
      val ivs = jobsUnder(s).map(j => (math.max(lo, j.startMs),
        math.min(hi, if (j.endMs >= 0) j.endMs else hi))).filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L; var curLo = -1L; var curHi = -1L
      ivs.foreach { case (a, b) =>
        if (a > curHi) { covered += curHi - curLo; curLo = a; curHi = b }
        else curHi = math.max(curHi, b)
      }
      covered += curHi - curLo
      math.max(0.0, s.seconds - covered / 1e3)
    }
  }
}
