package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op's measurements: only the `timed` sections of an op count. */
final case class Sample(kind: String, seconds: Double, cpuSeconds: Double,
    gcSeconds: Double, ok: Boolean)

/** Handed to a workload's `op`: it times the op's calls into the
  * engine and leaves prep and result checks outside the interval. */
final class OpCtx(tracer: Tracer) {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs = { var t = 0L; gcs.forEach(g => t += math.max(0L, g.getCollectionTime)); t }

  var kind = "op"
  private[perfbench] var wall = 0.0
  private[perfbench] var cpu = 0.0
  private[perfbench] var gc = 0.0

  private[perfbench] def reset(): Unit = { kind = "op"; wall = 0.0; cpu = 0.0; gc = 0.0 }

  def timed[T](body: => T): T = {
    val (c0, g0, t0) = (os.getProcessCpuTime, gcMs, System.nanoTime())
    try tracer.span("op")(body)
    finally {
      wall += (System.nanoTime() - t0) / 1e9
      cpu += (os.getProcessCpuTime - c0) / 1e9
      gc += (gcMs - g0) / 1e3
    }
  }
}

/** A seeded single-client workload. `setup` is what setup_s times;
  * `prepare` builds the correctness references outside any timing. */
abstract class Workload {
  /** Set-ups per run; setup_s is their median. */
  def setupReps: Int = 3
  /** Ops per cycle of the op order, and the share of `--seconds` one
    * cycle stands for: a run times max(1, round(seconds / cycleSeconds))
    * whole cycles, so every run of a workload times the same op mix and
    * count. */
  def cycle: Int
  def cycleSeconds: Double
  def setup(spark: SparkSession, dir: String): Unit
  def prepare(): Unit = ()
  /** Run op `i`; return whether its result passed its check. */
  def op(i: Long, c: OpCtx): Boolean
  /** End-of-run checks over the whole run's effects. */
  def finish(): Seq[(String, Boolean)] = Seq.empty
  /** Workload-specific end-to-end metrics: (name, value, unit). */
  def endToEnd(samples: Seq[Sample]): Seq[(String, Double, String)] = Seq.empty
  /** Per-layer metrics from the traced phase. */
  def perLayer(r: Tracer.Report, samples: Seq[Sample]): Seq[(String, Double)] = Seq.empty
  /** Input sizes beyond the generated tables (index, change sets). */
  def context: Seq[(String, Any)] = Seq.empty
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. (value, percentile, samples). Below 21
    * samples that percentile is not above the median, so the median
    * stands in. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n < 21) (median(xs), 50.0, n)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try {
        var total = 0L
        it.forEach(p => if (java.nio.file.Files.isRegularFile(p)) total += java.nio.file.Files.size(p))
        total
      } finally it.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try it.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally it.close()
    }
  }
}

/** Runs one workload: `setupReps` set-ups (each in a fresh session),
  * then a closed loop with one client over `seconds` worth of whole op
  * cycles. With tracing, the loop's first half runs untraced and its
  * second half traced, so the result carries the tracing overhead next
  * to the per-layer numbers. Writes one JSON record.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cpus N --result FILE */
object Main {

  def session(cpus: Int, work: String): SparkSession =
    graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // VersionedTable caches a manifest or log listing only once its
      // file is 2 s old (the coarse-mtime guard for object stores), so
      // whether a read hits depends on how long ago the last commit
      // ended, i.e. on host speed. Local files carry ms mtimes and the
      // loop has one writer: cache at once, so every read past the
      // first after a commit is a hit on any host.
      .config("graft.manifest.cache.graceMs", "0"))
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload"); val seed = args("seed").toLong
    val seconds = args("seconds").toDouble; val trace = args("trace") == "1"
    val data = args("data"); val work = args("work"); val cpus = args("cpus").toInt
    val tracer = new Tracer
    val wl: Workload = workload match {
      case "pig_etl" => new PigEtl(seed, data, work, tracer)
      case "lake_churn" => new LakeChurn(seed, data, tracer)
      case "fed_pigout" => new FedPigout(seed, data, tracer)
      case "ann_serve" => new AnnServe(seed, data, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // --- set-up, several times; each rep gets a fresh session and dirs
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until wl.setupReps) {
      if (spark != null) spark.stop()
      val dir = s"$work/fixture$rep"
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      wl.setup(spark, dir)
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      if (rep > 0) Stats.deleteTree(s"$work/fixture${rep - 1}")
    }
    System.err.println(f"[perfbench] setup reps ${setupS.mkString(", ")} s")
    val tp = System.nanoTime()
    wl.prepare()
    System.err.println(f"[perfbench] prepare ${(System.nanoTime() - tp) / 1e9}%.2f s")

    // --- the closed loop
    val ctx = new OpCtx(tracer)
    val phases = if (trace) Seq(false -> seconds / 2, true -> seconds / 2) else Seq(false -> seconds)
    var opId = 0L
    val byPhase = phases.map { case (traced, budget) =>
      if (traced) tracer.start(spark.sparkContext)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val ops = wl.cycle * math.max(1L, math.round(budget / wl.cycleSeconds))
      while (samples.length < ops) {
        opId += 1
        tracer.beginOp(opId)
        ctx.reset()
        val ok = try wl.op(opId, ctx) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] op $opId (${ctx.kind}) failed: $e")
            e.printStackTrace()
            false
        }
        samples += Sample(ctx.kind, ctx.wall, ctx.cpu, ctx.gc, ok)
        System.err.println(f"[perfbench] op $opId ${ctx.kind} ${ctx.wall}%.3f s ok=$ok")
      }
      if (traced) tracer.stop()
      traced -> samples.toSeq
    }
    val finals = try wl.finish() catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] end-of-run checks failed: $e")
        Seq("end_of_run" -> false)
    }
    val all = byPhase.flatMap(_._2)
    val e2eSamples = byPhase.head._2

    // --- end-to-end metrics (untraced samples)
    val good = e2eSamples.filter(_.ok)
    val (tailV, tailPct, tailN) = Stats.tail(good.map(_.seconds))
    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("ops_per_s", good.length / e2eSamples.map(_.seconds).sum, "1/s"),
      ("op_p50_s", Stats.median(good.map(_.seconds)), "s"),
      ("op_tail_s", tailV, "s"),
      ("cpu_s_per_op", Stats.mean(e2eSamples.map(_.cpuSeconds)), "s"),
      ("failed_frac", e2eSamples.count(!_.ok).toDouble / e2eSamples.length, "fraction"),
      ("peak_rss_mb", peakRssMb(), "MB"),
    ) ++ wl.endToEnd(good)

    // --- per-layer metrics (traced samples)
    val report = if (trace) Some(tracer.report()) else None
    val layers: Seq[(String, Double)] = report.toSeq.flatMap { rep =>
      val traced = byPhase.last._2
      val tGood = traced.filter(_.ok)
      Seq("core.session_s" -> Stats.median(sessionS.toSeq),
        "jvm.gc_s_per_op" -> Stats.mean(traced.map(_.gcSeconds)),
        "trace.overhead_frac" ->
          (Stats.median(tGood.map(_.seconds)) / Stats.median(good.map(_.seconds)) - 1.0)) ++
        wl.perLayer(rep, tGood)
    }
    if (trace) tracer.writeSpans(s"$work/spans.jsonl")
    spark.stop()

    val loadEnd = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("")
    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "attempted" -> all.length, "failed" -> all.count(!_.ok),
      "checks" -> (finals.map { case (k, v) => k -> v }.toMap +
        ("ops" -> all.forall(_.ok))),
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers.toMap,
      "tail" -> Map("percentile" -> tailPct, "samples" -> tailN),
      "op_kinds" -> all.groupBy(_.kind).map { case (k, v) => k -> v.length },
      "samples" -> byPhase.map { case (traced, ss) => (if (traced) "traced" else "untraced") ->
        ss.map(x => Seq(x.kind, x.seconds, x.cpuSeconds, x.ok)) }.toMap,
      "setup_reps_s" -> setupS.toSeq, "session_reps_s" -> sessionS.toSeq,
      "context" -> wl.context.toMap, "jvm_loadavg_end" -> loadEnd,
      "span_summary" -> report.map(rep =>
        rep.spans.groupBy(_.name).map { case (n, ss) => n -> Map(
          "count" -> ss.length, "total_s" -> ss.map(_.seconds).sum,
          "self_s" -> ss.map(rep.selfSeconds).sum) }),
    ))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("result")), record)
    // Spark leaves non-daemon threads behind; the record is written.
    System.exit(0)
  }

  private def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0 }.get
    }.getOrElse(Double.NaN)
}
