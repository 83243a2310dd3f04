package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.fed.Federation
import graft.fed.Federation._
import graft.operators.VersionedTable

/** Three isolated "clusters" (one `newSession()` and scratch dir each):
  * A holds `orders` as a VersionedTable, B `customer` and `nation`, C
  * `lineitem`. Each op plans and runs one federated job: a 2-way join
  * (one cut edge) or a 3-way join (two cut edges). The seed orders a
  * grid of filter selectivities, so which side is cheaper to ship, and
  * with it the cut, changes from op to op. One op = `Federation.plan`
  * → `Orchestrator.execute` → collect → `cleanupStaged`; every result
  * must equal the same plan evaluated on one session. */
final class FedPigout(seed: Long, data: String, tr: Tracer) extends Workload {
  import FedPigout._

  private val rnd = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var clusters: Map[String, Cluster] = Map.empty
  private var catalog: Catalog = _
  private var deck: List[Shape] = Nil
  private val reference = mutable.Map.empty[Shape, Seq[String]]

  private val staged = mutable.ArrayBuffer.empty[Long]
  private val cuts = mutable.ArrayBuffer.empty[Int]
  private val estimateRatios = mutable.ArrayBuffer.empty[Double]

  def cycle: Int = Grid.length
  def cycleSeconds: Double = 7.0
  def setup(s: SparkSession, fixture: String): Unit = {
    spark = s
    clusters = Seq("A", "B", "C").map(id => id -> Cluster(id, s.newSession(), s"$fixture/scratch/$id")).toMap
    val ordersVt = s"$fixture/orders_vt"
    VersionedTable.commit(clusters("A").session, ordersVt,
      clusters("A").session.read.parquet(s"$data/orders.parquet"), -1L, "bench")
    catalog = new Catalog()
      .register("orders", TableLoc("A", VersionedFormat, ordersVt))
      .register("customer", TableLoc("B", "parquet", s"$data/customer.parquet"))
      .register("nation", TableLoc("B", "parquet", s"$data/nation.parquet"))
      .register("lineitem", TableLoc("C", "parquet", s"$data/lineitem.parquet"))
  }

  /** The plan for a shape; selectivities are the caller's estimates
    * the cost pass uses to pick the cheaper side. */
  private def plan(sh: Shape): FedPlan = {
    // o_totalprice is uniform on [900, 500000]
    val priceCut = 500000.0 - sh.orders * (500000.0 - 900.0)
    val orders = FedStage(FedScan("orders"),
      _.filter(col("o_totalprice") > priceCut).select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_f", sh.orders)
    val segs = Segments.take(sh.segments)
    val customer = FedStage(FedScan("customer"),
      _.filter(col("c_mktsegment").isin(segs: _*)).select("c_custkey", "c_nationkey"),
      "customer_f", sh.segments / 5.0)
    if (!sh.threeWay)
      FedBinary(orders, customer,
        (o, c) => o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sum_price")),
        "orders_customer")
    else {
      // l_shipdate is uniform over 1995-01-02 .. 2001-11-04 (~2498 days)
      val days = math.max(1, (sh.lineitem * 2498).toInt)
      val lineitem = FedStage(FedScan("lineitem"),
        _.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < date_add(lit("1996-01-01").cast("date"), days).cast("timestamp"))
          .select("l_orderkey", "l_extendedprice"),
        "lineitem_f", sh.lineitem * 0.2)
      val lo = FedBinary(lineitem, orders,
        (l, o) => l.join(o, l("l_orderkey") === o("o_orderkey"))
          .select(o("o_custkey"), l("l_extendedprice")),
        "lineitem_orders")
      val cn = FedBinary(customer, FedScan("nation"),
        (c, n) => c.join(n, c("c_nationkey") === n("n_nationkey")).select("c_custkey", "n_name"),
        "customer_nation")
      FedBinary(lo, cn,
        (x, y) => x.join(y, x("o_custkey") === y("c_custkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("revenue")),
        "revenue_by_nation")
    }
  }

  /** The same plan evaluated on one session, no federation. */
  private def single(p: FedPlan): DataFrame = p match {
    case FedScan(t) =>
      val loc = catalog(t)
      if (loc.format == VersionedFormat) VersionedTable.read(spark, loc.uri)
      else spark.read.format(loc.format).load(loc.uri)
    case FedStage(in, f, _, _) => f(single(in))
    case FedBinary(l, r, f, _) => f(single(l), single(r))
  }

  private def labelled(p: FedPlan): Map[String, FedPlan] = (p match {
    case FedScan(_) => Map.empty[String, FedPlan]
    case FedStage(in, _, _, _) => labelled(in)
    case FedBinary(l, r, _, _) => labelled(l) ++ labelled(r)
  }) + (p.label -> p)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  override def prepare(): Unit = {
    Grid.foreach(sh => reference(sh) = sorted(single(plan(sh))))
    // warm-up: one federated job of each shape, checked, not measured
    val warm = new OpCtx(tr)
    Seq(Grid.find(!_.threeWay), Grid.find(_.threeWay)).flatten.foreach(sh =>
      require(run(sh, warm), s"warm-up $sh failed its check"))
    staged.clear()
  }

  def op(i: Long, c: OpCtx): Boolean = {
    if (deck.isEmpty) deck = rnd.shuffle(Grid)
    val sh = deck.head; deck = deck.tail
    run(sh, c)
  }

  private def run(sh: Shape, c: OpCtx): Boolean = {
    c.kind = if (sh.threeWay) "fed3" else "fed2"
    val root = plan(sh)
    val orch = new Orchestrator(catalog, clusters)
    val (placement, rows) = c.timed {
      val pl = tr.span("fed.plan")(Federation.plan(root, catalog, clusters))
      val df = tr.span("fed.execute")(orch.execute(root))
      (pl, tr.span("fed.result")(df.collect().map(_.toString).toSeq.sorted))
    }
    val paths = orch.stagedPaths
    val bytes = paths.map(Stats.dirBytes)
    staged += bytes.sum
    if (tr.enabled) {
      cuts += paths.length
      // the planner's estimate for each shipped subplan vs what landed
      val byLabel = labelled(root)
      placement.transfers.foreach { case (label, _, _) =>
        val stem = label.replaceAll("[^A-Za-z0-9]", "_") + "_"
        paths.zip(bytes).find(_._1.split('/').last.startsWith(stem)).foreach { case (_, b) =>
          estimateRatios += Federation.estimatedBytes(byLabel(label), catalog,
            clusters.values.head.session).toDouble / math.max(1L, b)
        }
      }
    }
    c.timed(tr.span("fed.cleanup")(orch.cleanupStaged()))
    rows == reference(sh)
  }

  override def endToEnd(samples: Seq[Sample]): Seq[(String, Double, String)] =
    Seq(("transfer_bytes_per_job", Stats.mean(staged.map(_.toDouble).toSeq), "bytes"))

  override def perLayer(r: Tracer.Report, samples: Seq[Sample]): Seq[(String, Double)] = {
    val ops = r.named("op")
    val w = Layer.work(r, ops, Layer.ops(ops))
    Seq("plan", "execute", "result", "cleanup").map(p =>
      s"fed.${p}_s" -> Layer.medianSeconds(r, s"fed.$p")) ++ Seq(
      "fed.cut_edges_per_op" -> Stats.mean(cuts.map(_.toDouble).toSeq),
      "fed.estimate_ratio" -> Stats.median(estimateRatios.toSeq),
      "fed.jobs_per_op" -> w.jobs, "fed.executor_cpu_s_per_op" -> w.executorCpuS)
  }
}

object FedPigout {
  /** orders: kept fraction; segments: customer segments kept (of 5);
    * lineitem: kept fraction of the ship-date range (3-way only). */
  final case class Shape(threeWay: Boolean, orders: Double, segments: Int, lineitem: Double)

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Six 2-way and three 3-way shapes: with the two kinds in unequal
    * numbers the median op is a 2-way job in every run, not the gap
    * between the kinds. */
  val Grid: List[Shape] = List(
    Shape(false, 0.01, 5, 0.0), Shape(false, 0.05, 1, 0.0),
    Shape(false, 0.1, 3, 0.0), Shape(false, 0.3, 5, 0.0),
    Shape(false, 0.5, 2, 0.0), Shape(false, 0.8, 1, 0.0),
    Shape(true, 0.02, 1, 0.02), Shape(true, 0.02, 5, 0.2),
    Shape(true, 0.5, 1, 0.2))
}
