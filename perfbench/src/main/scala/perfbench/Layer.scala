package perfbench

/** Per-layer aggregates over traced spans. */
object Layer {
  import Tracer._

  /** Median duration of the spans with this name (0 when none ran). */
  def medianSeconds(r: Report, name: String): Double = {
    val xs = r.named(name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Spark work under `spans`, per unit (op, commit, read): jobs,
    * stages, input and shuffle bytes, executor CPU and the span time
    * no job covered. */
  final case class Work(jobs: Double, stages: Double, inputBytes: Double,
      shuffleBytes: Double, executorCpuS: Double, driverS: Double)

  def work(r: Report, spans: Seq[Span], units: Int): Work = {
    val n = math.max(1, units).toDouble
    val st = spans.flatMap(r.stagesUnder)
    Work(spans.map(r.jobsUnder(_).length).sum / n, st.length / n,
      st.map(_.inputBytes).sum / n, st.map(_.shuffleWriteBytes).sum / n,
      st.map(_.cpuNs).sum / 1e9 / n, spans.map(r.driverSeconds).sum / n)
  }

  /** Distinct ops among the spans. */
  def ops(spans: Seq[Span]): Int = spans.map(_.op).distinct.length
}
