package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, Similarity}

/** IVF-PQ serving from a persisted AnnIndex over `embeddings`. Set-up
  * fits the coarse centroids and PQ codebooks, saves and loads the
  * index. Each op serves a seeded batch of perturbed corpus vectors
  * with exact refine; every 20th op instead tombstones a batch of ids
  * that are true neighbours of some query (writes beside reads) and
  * reloads the index. Exact neighbours come from
  * `Similarity.bruteForceTopK`, computed once outside any timing;
  * tombstoned ids are dropped from the truth, and a served tombstoned
  * id fails the op. */
final class AnnServe(seed: Long, data: String, tr: Tracer) extends Workload {
  import AnnServe._

  // one index build costs tens of seconds; a run affords one
  override def setupReps: Int = 1
  def cycle: Int = DeleteEvery
  def cycleSeconds: Double = 16.0

  private val rnd = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var corpus: DataFrame = _
  private var indexDir: String = _
  private var loaded: AnnIndex.Loaded = _
  private val loadS = mutable.ArrayBuffer.empty[Double]

  private var pool: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private val deleted = mutable.Set.empty[Long]
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(s: SparkSession, fixture: String): Unit = {
    spark = s
    indexDir = s"$fixture/index"
    // the corpus is loaded once, spread over every core (one parquet
    // file would otherwise feed a single task)
    corpus = s.read.parquet(s"$data/embeddings.parquet")
      .repartition(s.sparkContext.defaultParallelism).cache()
    corpus.count()
    val cents = Similarity.kMeansFit(corpus, "embedding", k = Cells, iters = 3,
      sampleN = TrainSample, init = "parallel")
    val pq = Similarity.pqTrain(corpus, "embedding", m = 16, nCodes = 256, iters = 3,
      sampleN = TrainSample)
    AnnIndex.save(s, indexDir, corpus, "vec_id", "embedding", cents, pq)
    val t0 = System.nanoTime()
    loaded = AnnIndex.load(s, indexDir)
    loadS += (System.nanoTime() - t0) / 1e9
  }

  private def queries(ids: Seq[Long]): DataFrame = {
    val rows = ids.map(q => Row(q, pool((q - QueryBase).toInt)._2.toSeq))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("qid", LongType), StructField("embedding", ArrayType(FloatType)))))
  }

  override def prepare(): Unit = {
    val rows = corpus.count().toInt
    val picks = Array.fill(PoolSize)(rnd.nextInt(rows).toLong)
    val vecs = corpus.filter(col("vec_id").isin(picks.distinct.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    pool = picks.toIndexedSeq.map { id =>
      val v = vecs(id)
      (id, v.map(x => x + (rnd.nextGaussian() * Noise).toFloat))
    }
    val all = (0 until PoolSize).map(j => QueryBase + j)
    truth = Similarity.bruteForceTopK(corpus, queries(all), "vec_id", "qid", "embedding", TruthK)
      .select("query_id", "neighbor_id", "score").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq }
  }

  def op(i: Long, c: OpCtx): Boolean =
    if (i % DeleteEvery == 0) {
      c.kind = "delete"
      // ids that some query's current top-10 holds, so tombstones bite
      val victims = Iterator.continually(truth(QueryBase + rnd.nextInt(PoolSize)))
        .map(_.filterNot(deleted).take(K)).flatten.take(DeleteBatch).toSeq.distinct
      val ids = spark.createDataFrame(victims.map(Row(_)).asJava,
        StructType(Seq(StructField("vec_id", LongType))))
      val n = c.timed {
        val n = tr.span("ann.delete")(AnnIndex.deleteIds(spark, indexDir, ids))
        loaded = tr.span("ann.load")(AnnIndex.load(spark, indexDir))
        n
      }
      deleted ++= victims
      n == victims.length
    } else {
      c.kind = "topk"
      val batch = Seq.fill(Batch)(QueryBase + rnd.nextInt(PoolSize)).distinct
      val qs = queries(batch)
      val got = c.timed(tr.span("ann.topk")(
        AnnIndex.topK(loaded, qs, "qid", "embedding", k = K, nProbe = 8, refine = 4,
          exactCorpus = Some(corpus)).select("query_id", "neighbor_id").collect()))
      val byQuery = got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      batch.foreach { q =>
        val live = truth(q).filterNot(deleted).take(K).toSet
        recalls += byQuery.getOrElse(q, Set.empty).intersect(live).size.toDouble / K
      }
      got.forall(r => !deleted(r.getLong(1)))
    }

  override def endToEnd(samples: Seq[Sample]): Seq[(String, Double, String)] =
    Seq(("recall_at_10", Stats.mean(recalls.toSeq), "fraction"))

  override def perLayer(r: Tracer.Report, samples: Seq[Sample]): Seq[(String, Double)] = {
    val topk = r.named("ann.topk")
    val w = Layer.work(r, topk, topk.length)
    Seq("ann.load_s" -> Stats.median(loadS.toSeq),
      "ann.topk_s" -> Layer.medianSeconds(r, "ann.topk"),
      "ann.jobs_per_op" -> w.jobs, "ann.shuffle_bytes_per_op" -> w.shuffleBytes,
      "ann.executor_cpu_s_per_op" -> w.executorCpuS,
      "ann.delete_s" -> Layer.medianSeconds(r, "ann.delete"))
  }

  override def context: Seq[(String, Any)] = Seq(
    "index_bytes" -> Stats.dirBytes(indexDir), "tombstoned_ids" -> deleted.size)
}

object AnnServe {
  val Cells = 64
  /** Training sample for centroids and codebooks (the corpus is 50k). */
  val TrainSample = 4096
  val K = 10
  val TruthK = 40
  val PoolSize = 256
  val Batch = 16
  val QueryBase = 1000000000L
  val Noise = 0.05
  val DeleteEvery = 20
  val DeleteBatch = 25
}
