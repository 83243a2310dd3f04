package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.pig.{PigCompiler, PigParser, PigPreprocessor, PigScript}

/** One op = one bundled PigMix script, run as text through
  * preprocess → parse → compile → execute, in a seeded order that
  * visits every script once per cycle. Each script's result is checked
  * once, in `prepare`, against the DuckDB oracle SQL the engine
  * already ships (`SparkEntry.oracleSql`; the compare itself runs in
  * run.py after the JVM exits); every timed run must reproduce that
  * checked result's sorted-row hash. */
final class PigEtl(seed: Long, data: String, work: String, tr: Tracer) extends Workload {
  /** Script basename → its SparkEntry oracle entry: one script per
    * front-end shape (replicated join, join + group, nested DISTINCT,
    * COGROUP anti-join, SPLIT into three STOREs over one shared scan,
    * nested ORDER/LIMIT). Others are left out to keep a run in budget;
    * see README. */
  val Scripts: Seq[(String, String)] = Seq(
    "l02" -> "q203_pigmix_l02", "l03" -> "q204_pigmix_l03",
    "l04" -> "q205_pigmix_l04", "l05" -> "q206_pigmix_l05",
    "l12multi" -> "q230_pigmix_l12_multistore", "l16" -> "q217_pigmix_l16")

  private val text = Scripts.map { case (s, _) => s -> PigScript.resource(s"/pigmix/$s.pig") }.toMap
  private val rnd = new scala.util.Random(seed)
  private var order: Seq[String] = Seq.empty
  private var spark: SparkSession = _
  private val expected = scala.collection.mutable.Map.empty[String, String]

  def cycle: Int = Scripts.length
  def cycleSeconds: Double = 4.0
  // Re-creating a session in a warm JVM takes ~0.1 s, mostly timer
  // jitter; the cold start is the set-up a script's user waits for.
  override def setupReps: Int = 1
  def setup(s: SparkSession, dir: String): Unit = spark = s

  private def outDir(i: Long) = s"$work/pig_out/$i"

  /** The timed part of an op: returns a thunk reading the result back. */
  private def run(script: String, out: String): () => Seq[Row] = {
    val params = Map("DIR" -> data, "OUT" -> out)
    val pre = tr.span("pig.preprocess")(PigPreprocessor(text(script), params))
    val stmts = tr.span("pig.parse")(PigParser.parseScript(pre))
    if (pre.linesIterator.exists(_.trim.startsWith("STORE "))) {
      // STOREs execute inside compile (executeStores = true), so that
      // call is where this script executes.
      val r = tr.span("pig.execute")(PigCompiler.compile(spark, stmts, executeStores = true))
      val paths = r.stores.map(_.path)
      () => paths.map(spark.read.parquet(_)).reduce(_ unionByName _).collect().toSeq
    } else {
      val df = tr.span("pig.compile") {
        val r = PigCompiler.compile(spark, stmts)
        graft.functions.BigNum.unwrapAll(r(r.stores.lastOption.map(_.alias).orElse(r.lastAlias).get))
      }
      val rows = tr.span("pig.execute")(df.collect().toSeq)
      () => rows
    }
  }

  private def hash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  override def prepare(): Unit = {
    val oracle = scala.collection.mutable.LinkedHashMap.empty[String, String]
    Scripts.foreach { case (s, q) =>
      val out = s"$work/pig_out/prepare_$s"
      val rows = run(s, out)()
      expected(s) = hash(rows)
      rowsFrame(s, rows).coalesce(1).write.mode("overwrite").parquet(s"$work/oracle/$q")
      oracle(q) = graft.SparkEntry.oracleSql(q)
      Stats.deleteTree(out)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle/oracle_sql.json"),
      Json.value(oracle.toMap))
  }

  // The collected rows carry their schema; rebuild a frame to dump.
  private def rowsFrame(s: String, rows: Seq[Row]) = {
    val schema = rows.headOption.map(_.schema).orNull
    require(schema != null, s"pigmix $s returned no rows")
    spark.createDataFrame(rows.asJava, schema)
  }

  def op(i: Long, c: OpCtx): Boolean = {
    if (order.isEmpty) order = rnd.shuffle(Scripts.map(_._1))
    val script = order.head; order = order.tail
    c.kind = script
    val out = outDir(i)
    val read = c.timed(run(script, out))
    val ok = hash(read()) == expected(script)
    Stats.deleteTree(out)
    ok
  }

  override def perLayer(r: Tracer.Report, samples: Seq[Sample]): Seq[(String, Double)] = {
    val ops = r.named("op")
    val w = Layer.work(r, ops, Layer.ops(ops))
    Seq("preprocess", "parse", "compile", "execute").map(p =>
      s"pig.${p}_s" -> Layer.medianSeconds(r, s"pig.$p")) ++ Seq(
      "pig.driver_s_per_op" -> w.driverS, "pig.jobs_per_op" -> w.jobs,
      "pig.stages_per_op" -> w.stages, "pig.input_bytes_per_op" -> w.inputBytes,
      "pig.shuffle_bytes_per_op" -> w.shuffleBytes,
      "pig.executor_cpu_s_per_op" -> w.executorCpuS)
  }
}
