package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.VersionedTable
import graft.operators.VersionedTable.ColBound

/** `orders` as a VersionedTable clustered by key, under writes (merge
  * upsert, deleteWhere, updateWhere, commitDelta append) interleaved
  * with reads (readWhere point/range, read latest, readAsOf, a feed
  * cursor's poll + ack). Seeded keys are Zipf-skewed toward the newest.
  *
  * Correctness: a plain in-memory model of the table replays every op;
  * reads are checked against it per op, the final snapshot must equal
  * it, and the polled feed must replay the initial snapshot into it. */
final class LakeChurn(seed: Long, data: String, tr: Tracer) extends Workload {
  import LakeChurn._

  private val rnd = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var changeDir: String = _
  private var schema: StructType = _

  // the model: key → row, plus (count, key sum) at every version
  private val model = mutable.HashMap.empty[Long, Row]
  private var initial: Map[Long, Row] = Map.empty
  private var maxKey = 0L
  private var version = 0L
  private val atVersion = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (count, keySum, committedAtMs)
  private var keySum = 0L
  private val feed = mutable.ArrayBuffer.empty[Row]

  // commit receipts (traced?, files added, files removed, bytes written)
  private val receipts = mutable.ArrayBuffer.empty[(Boolean, Long, Long, Long)]
  private val scanned = mutable.ArrayBuffer.empty[Double]
  private var writtenBytes = 0L
  private var changeBytes = 0L
  private var finalState: Map[String, Double] = Map.empty

  // A round takes ~12 s; at 4 s a round, a standard 8 s run times two
  // rounds (each commit kind twice) and each traced half one.
  def cycle: Int = Deck.length
  def cycleSeconds: Double = 4.0
  // One set-up is a cold session plus a 150k-row clustered commit; a
  // run cannot afford more beside its warm-up.
  override def setupReps: Int = 1
  def setup(s: SparkSession, fixture: String): Unit = {
    spark = s
    dir = s"$fixture/orders_vt"
    changeDir = s"$fixture/changes"
    val orders = s.read.parquet(s"$data/orders.parquet")
    VersionedTable.commit(s, dir, orders, expectedVersion = -1L, writerId = Writer,
      clusterBy = Seq(Key), clusterFiles = 16,
      meta = Map(VersionedTable.FeedKey -> Key))
    VersionedTable.initCursor(s, dir, Consumer, 0L)
  }

  override def prepare(): Unit = {
    val rows = spark.read.parquet(s"$data/orders.parquet").collect()
    schema = rows.head.schema
    rows.foreach(r => model(r.getLong(0)) = r)
    initial = model.toMap
    maxKey = model.keys.max
    keySum = model.keys.sum
    atVersion += ((model.size.toLong, keySum, System.currentTimeMillis()))
    // warm-up, checked, not measured: one op of each kind, then more
    // appends and point lookups until the JIT has compiled the write
    // and read paths (without them appends and lookups still speed up
    // by a fifth from the first timed round to the second, and the tail
    // lands between the two rounds' appends)
    val warm = new OpCtx(tr)
    val warmOps = Deck.distinct ++ Vector.fill(WarmAppends)("append") ++
      Vector.fill(WarmReads)("read_point")
    warmOps.zipWithIndex.foreach { case (k, j) =>
      require(run(k, -1L - j, warm), s"warm-up $k failed its check")
    }
    scanned.clear()
    receipts.clear(); writtenBytes = 0L; changeBytes = 0L
  }

  // --- seeded inputs

  /** Zipf rank CDF over the key space, newest keys most likely. */
  private def zipfCdf(s: Double): Array[Double] = {
    val w = Array.tabulate(ZipfSpan)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private lazy val writeCdf = zipfCdf(WriteSkew)
  private lazy val readCdf = zipfCdf(ReadSkew)
  private def zipfKey(cdf: Array[Double], u: Double = rnd.nextDouble()): Long = {
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    math.max(1L, maxKey - math.min(i, ZipfSpan - 1))
  }
  /** A Zipf-drawn key that is live, so a range ending at it matches. */
  private def liveKey(): Long = {
    var k = zipfKey(writeCdf)
    while (!model.contains(k)) k = if (k > 1) k - 1 else maxKey
    k
  }

  private def newRow(key: Long): Row = Row(key, 1L + rnd.nextInt(15000),
    Seq("F", "O", "P")(rnd.nextInt(3)), math.round(rnd.nextDouble() * 499100.0 + 900.0) / 1.0,
    new java.sql.Timestamp(694224000000L + rnd.nextInt(2400) * 86400000L),
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))

  /** Write rows as the op's change set; returns the frame reading it. */
  private def changeSet(i: Long, rows: Seq[Row]): DataFrame = {
    val path = s"$changeDir/$i"
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)
    changeBytes += Stats.dirBytes(path)
    spark.read.parquet(path)
  }

  private def commitDone(filesAdded: Long, filesRemoved: Long, bytes: Long): Unit = {
    receipts += ((tr.enabled, filesAdded, filesRemoved, bytes))
    writtenBytes += bytes
    version += 1
    atVersion += ((model.size.toLong, keySum, System.currentTimeMillis()))
  }

  private def put(r: Row): Unit = {
    val k = r.getLong(0)
    if (!model.contains(k)) keySum += k
    model(k) = r
  }
  private def remove(k: Long): Unit = if (model.remove(k).isDefined) keySum -= k

  // --- ops

  /** A timed round's point lookups draw their Zipf quantiles one per
    * equal stratum, in seeded order: every round then sends the same
    * share of lookups to the newest keys, whose files the commits
    * rewrote or masked (about half of those lookups cost ~3x), so
    * where the median op falls does not hinge on how many a seed
    * happened to draw there. */
  private val pointQuantiles = mutable.Queue.empty[Double]

  def op(i: Long, c: OpCtx): Boolean = {
    if ((i - 1) % Deck.length == 0) {
      val n = Deck.count(_ == "read_point")
      pointQuantiles.clear()
      pointQuantiles ++= rnd.shuffle(Vector.tabulate(n)(j => (j + rnd.nextDouble()) / n))
    }
    run(Deck(((i - 1) % Deck.length).toInt), i, c)
  }

  private def run(kind: String, i: Long, c: OpCtx): Boolean = {
    c.kind = kind
    kind match {
      case "merge" =>
        val keys = mutable.LinkedHashSet.empty[Long]
        while (keys.size < MergeRows * 9 / 10) keys += zipfKey(writeCdf)
        (1 to MergeRows / 10).foreach(j => keys += maxKey + j)
        val rows = keys.toSeq.map(newRow)
        val cs = changeSet(i, rows)
        val st = c.timed(tr.span("vt.merge")(
          VersionedTable.merge(spark, dir, cs, Seq(Key), version, Writer)))
        rows.foreach(put); maxKey = math.max(maxKey, keys.max)
        commitDone(st.filesAdded, st.filesRemoved, st.bytesAdded)
        st.version == version
      case "delete" =>
        val hi = liveKey(); val lo = hi - RangeWidth
        val gone = (lo to hi).filter(model.contains)
        if (gone.nonEmpty) changeSet(i, gone.map(model))
        val st = c.timed(tr.span("vt.delete")(
          VersionedTable.deleteWhere(spark, dir, s"$Key BETWEEN $lo AND $hi", version, Writer)))
        gone.foreach(remove)
        if (st.version >= 0) commitDone(0L, st.filesDropped, st.bytesDv)
        st.rowsDeleted == gone.length && (st.version == version || gone.isEmpty)
      case "update" =>
        val hi = liveKey(); val lo = hi - RangeWidth
        val hit = (lo to hi).filter(model.contains)
        val after = hit.map { k =>
          val r = model(k)
          Row(k, r.get(1), r.get(2), r.getDouble(3) + 1.0, r.get(4), "1-URGENT")
        }
        if (after.nonEmpty) changeSet(i, after)
        val st = c.timed(tr.span("vt.update")(
          VersionedTable.updateWhere(spark, dir, s"$Key BETWEEN $lo AND $hi",
            Seq("o_totalprice" -> "o_totalprice + 1.0", "o_orderpriority" -> "'1-URGENT'"),
            version, Writer)))
        after.foreach(put)
        st.foreach(s => commitDone(s.filesAdded, s.filesRemoved, s.bytesAdded))
        st.isDefined == hit.nonEmpty && st.forall(_.version == version)
      case "append" =>
        val rows = (1 to AppendRows).map(j => newRow(maxKey + j))
        val cs = changeSet(i, rows)
        val st = c.timed(tr.span("vt.append")(
          VersionedTable.commitDelta(spark, dir, Some(cs), Seq.empty, version, Writer)))
        rows.foreach(put); maxKey += AppendRows
        commitDone(st.filesAdded, st.filesRemoved, st.bytesAdded)
        st.version == version
      case "read_point" =>
        val k = if (pointQuantiles.nonEmpty) zipfKey(readCdf, pointQuantiles.dequeue())
          else zipfKey(readCdf)
        val b = Seq(ColBound(Key, Some(k), Some(k)))
        val got = c.timed(tr.span("vt.read_where")(
          VersionedTable.readWhere(spark, dir, b).filter(col(Key) === k).collect().toSeq))
        if (tr.enabled) pruned(b)
        got.map(_.toSeq) == model.get(k).toSeq.map(_.toSeq)
      case "read_range" =>
        val hi = zipfKey(readCdf); val lo = hi - 1000
        val b = Seq(ColBound(Key, Some(lo), Some(hi)))
        val got = c.timed(tr.span("vt.read_where")(
          summary(VersionedTable.readWhere(spark, dir, b).filter(col(Key).between(lo, hi)))))
        if (tr.enabled) pruned(b)
        val ks = (lo to hi).filter(model.contains)
        got == ((ks.length.toLong, ks.sum))
      case "read_latest" =>
        val got = c.timed(tr.span("vt.read_latest")(summary(VersionedTable.read(spark, dir))))
        got == ((model.size.toLong, keySum))
      case "read_asof" =>
        // one of the last few versions: a recent point in time
        val v = atVersion.length - 1 - rnd.nextInt(math.min(4, atVersion.length))
        val (n, sum, ts) = atVersion(v)
        val got = c.timed(tr.span("vt.read_asof")(
          summary(VersionedTable.readAsOf(spark, dir, new java.sql.Timestamp(ts)))))
        got == ((n, sum))
      case "feed_poll" =>
        c.timed(tr.span("vt.feed_poll")(poll()))
        true
    }
  }

  private def summary(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(Key)), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def pruned(b: Seq[ColBound]): Unit = {
    val (kept, live) = VersionedTable.prunedFiles(spark, dir, version, b)
    scanned += kept.length.toDouble / math.max(1, live)
  }

  private def poll(): Unit =
    VersionedTable.pollChanges(spark, dir, Consumer, Seq(Key)).foreach { case (df, from, to) =>
      feed ++= df.collect()
      VersionedTable.ackChanges(spark, dir, Consumer, from, to)
    }

  override def finish(): Seq[(String, Boolean)] = {
    poll()
    val replayed = mutable.HashMap.empty[Long, Row] ++= initial
    feed.foreach { r =>
      val k = r.getLong(0)
      if (r.getAs[String]("op") == "delete") replayed.remove(k)
      else replayed(k) = Row.fromSeq(r.toSeq.init)
    }
    val snapshot = VersionedTable.read(spark, dir).collect()
    val snapOk = snapshot.length == model.size &&
      snapshot.forall(r => model.get(r.getLong(0)).exists(_.toSeq == r.toSeq))
    val feedOk = replayed.size == model.size &&
      replayed.forall { case (k, r) => model.get(k).exists(_.toSeq == r.toSeq) }
    val live = VersionedTable.liveFiles(spark, dir, version)
    val liveBytes = live.map(f => Stats.dirBytes(s"$dir/$f")).sum
    finalState = Map("space_amp" -> Stats.dirBytes(dir).toDouble / liveBytes,
      "live_files" -> live.length.toDouble,
      "log_versions" -> VersionedTable.versions(spark, dir).length.toDouble)
    Seq("final_snapshot_equals_model" -> snapOk, "feed_replays_to_model" -> feedOk)
  }

  override def endToEnd(samples: Seq[Sample]): Seq[(String, Double, String)] = {
    val commits = samples.filter(s => Commits(s.kind)).map(_.seconds)
    val reads = samples.filterNot(s => Commits(s.kind)).map(_.seconds)
    Seq(("commit_p50_s", Stats.median(commits), "s"),
      ("commit_tail_s", Stats.tail(commits)._1, "s"),
      ("read_p50_s", Stats.median(reads), "s"),
      ("read_tail_s", Stats.tail(reads)._1, "s"),
      ("write_amp", writtenBytes.toDouble / changeBytes, "ratio"),
      ("space_amp", finalState.getOrElse("space_amp", Double.NaN), "ratio"))
  }

  override def perLayer(r: Tracer.Report, samples: Seq[Sample]): Seq[(String, Double)] = {
    val traced = receipts.filter(_._1)
    val perType = Seq("merge", "delete", "update", "append").flatMap { t =>
      val spans = r.named(s"vt.$t")
      val w = Layer.work(r, spans, spans.length)
      Seq(s"vt.${t}_s" -> Layer.medianSeconds(r, s"vt.$t"),
        s"vt.jobs_per_commit.$t" -> w.jobs, s"vt.stages_per_commit.$t" -> w.stages,
        s"vt.driver_s_per_commit.$t" -> w.driverS)
    }
    val readSpans = Seq("vt.read_where", "vt.read_latest", "vt.read_asof", "vt.feed_poll")
      .flatMap(r.named)
    perType ++ Seq(
      "vt.files_added_per_commit" -> Stats.mean(traced.map(_._2.toDouble).toSeq),
      "vt.files_removed_per_commit" -> Stats.mean(traced.map(_._3.toDouble).toSeq),
      "vt.bytes_added_per_commit" -> Stats.mean(traced.map(_._4.toDouble).toSeq),
      "vt.read_where_s" -> Layer.medianSeconds(r, "vt.read_where"),
      "vt.read_latest_s" -> Layer.medianSeconds(r, "vt.read_latest"),
      "vt.read_asof_s" -> Layer.medianSeconds(r, "vt.read_asof"),
      "vt.feed_poll_s" -> Layer.medianSeconds(r, "vt.feed_poll"),
      "vt.jobs_per_read" -> Layer.work(r, readSpans, readSpans.length).jobs,
      "vt.files_scanned_frac" -> Stats.mean(scanned.toSeq),
      "vt.live_files" -> finalState.getOrElse("live_files", Double.NaN),
      "vt.log_versions" -> finalState.getOrElse("log_versions", Double.NaN))
  }

  override def context: Seq[(String, Any)] = Seq("change_set_bytes" -> changeBytes,
    "commit_bytes" -> writtenBytes, "table_versions" -> (version + 1))
}

object LakeChurn {
  val Key = "o_orderkey"
  val Writer = "bench"
  val Consumer = "bench-feed"
  val MergeRows = 2250 // 1.5% of the 150k-row table
  val AppendRows = 1000
  val RangeWidth = 150L
  val WarmAppends = 3
  val WarmReads = 40
  val ZipfSpan = 150000
  val Commits = Set("merge", "delete", "update", "append")
  /** Zipf exponents: writes concentrate on the newest keys; reads
    * spread wider, so few point reads land in the files the latest
    * commits rewrote or masked (those reads cost ~3x), and the median
    * op is a plain point read in every run. */
  val WriteSkew = 1.1
  val ReadSkew = 0.4
  /** One round: each commit, then a read at the new version (it pays
    * the manifest refresh), then four point lookups, the most common
    * op on a serving lake; the feed poll closes the round. Appends come
    * three times: the eight merges, deletes, updates and feed polls of
    * two rounds are the slowest ops, so the 11th-slowest (the tail)
    * is the middle of the six appends, not whichever read happened to
    * be slowest. The order is fixed; the seed draws every key, range
    * and version. */
  val Deck: Vector[String] = Vector(
    "merge", "read_latest", "read_point", "read_point", "read_point", "read_point",
    "delete", "read_range", "read_point", "read_point", "read_point", "read_point",
    "append", "read_point", "read_point", "read_point", "read_point",
    "update", "read_asof", "read_point", "read_point", "read_point", "read_point",
    "append", "read_range", "read_point", "read_point", "read_point", "read_point",
    "append", "read_point", "read_point", "read_point", "read_point",
    "feed_poll")
}
