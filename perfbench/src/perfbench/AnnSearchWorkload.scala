package perfbench

import graft.functions.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `ann_search`: vector search over generated clustered embeddings. Set-up
 * trains IVF centroids (`trainIvfCentroids`) and writes the cell-bucketed
 * index once (`writeIvfBucketed`); every pass then probes it with the same
 * query batches, each through `ivfTopKFromBucketed` (probe arm) and
 * `filteredTopKAutoFromBucketed` under a selective tag predicate (its exact
 * arm). The index is written once and read many times, as streaming
 * similarity search does. Driver collects and many small jobs dominate.
 * A unit is one query batch.
 */
final class AnnSearchWorkload(ctx: Ctx) extends Workload {
  import AnnSearchWorkload._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val indexPath = ctx.path("ivf")

  private var corpus: Array[(Long, Int, Array[Float])] = _
  private var batches: Seq[(DataFrame, Array[(Long, Array[Float])], Int)] = _
  private var cents: Array[(Long, Vector[Double])] = _
  private var truth: Map[Long, Seq[Long]] = _

  def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    def near(c: Array[Double]) = c.map(x => (x + rnd.nextGaussian() * Spread).toFloat)
    corpus = Array.tabulate(Vectors)(i =>
      (i.toLong, rnd.nextInt(Tags), near(centers(rnd.nextInt(Clusters)))))
    batches = (0 until Batches).map { b =>
      val qs = Array.tabulate(BatchSize)(q =>
        (QueryIdBase + b * BatchSize + q, near(centers(rnd.nextInt(Clusters)))))
      val df = spark.createDataFrame(qs.toSeq.map { case (id, v) => (id, v.toSeq) })
        .toDF("id", "v")
      (df, qs, rnd.nextInt(Tags))
    }
    truth = batches.flatMap(_._2).map { case (qid, qv) =>
      qid -> topK(qv, corpus.iterator.map(c => (c._1, c._3)))
    }.toMap

    val schema = StructType(Seq(StructField("id", LongType), StructField("tag", IntegerType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(
        corpus.toSeq.map { case (id, tag, v) => Row(id, tag, v.toSeq) }, Files), schema)
      .write.parquet(ctx.path("vectors"))
    val vectors = spark.read.parquet(ctx.path("vectors"))
    cents = tr.span("functions.ivf_train")(
      Similarity.trainIvfCentroids(vectors, "id", "v", Centroids, TrainIters))
    tr.span("functions.ivf_write")(
      Similarity.writeIvfBucketed(vectors, "id", "v", cents, indexPath, metaCols = Seq("tag")))
  }

  def pass(): Pass = {
    val results = batches.map { case (queries, qs, tag) =>
      val t0 = System.nanoTime
      val probe = tr.span("functions.ivf_probe")(collectTopK(
        Similarity.ivfTopKFromBucketed(spark, indexPath, queries, "id", "v", K, cents, NProbe)))
      val (arm, exact) = tr.span("functions.ivf_filtered") {
        val (arm, df) = Similarity.filteredTopKAutoFromBucketed(spark, indexPath, queries, "id",
          "v", K, cents, NProbe, col("tag") === tag)
        (arm, collectTopK(df))
      }
      ((System.nanoTime - t0) / 1e6, qs, tag, probe, arm, exact)
    }
    val wall = (results.map(_._1).sum * 1e6).toLong

    results.foreach { case (_, qs, tag, probe, arm, exact) =>
      Check.equal("filtered arm for a 1-in-" + Tags + " predicate", arm, Similarity.BruteArm)
      qs.foreach { case (qid, qv) =>
        val want = topK(qv, corpus.iterator.collect { case (id, `tag`, v) => (id, v) })
        Check.equal(s"exact filtered top-$K of query $qid", exact.getOrElse(qid, Nil), want)
      }
      val hits = qs.map { case (qid, _) =>
        probe.getOrElse(qid, Nil).count(truth(qid).toSet).toDouble / K }
      val recall = hits.sum / hits.length
      Check(recall >= RecallFloor, f"probe recall@$K $recall%.3f below $RecallFloor")
    }
    Pass(Batches.toLong * BatchSize, results.map(_._1), wall)
  }

  private def collectTopK(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("query_id"), col("rank"), col("vec_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }

  override def layerMetrics(timed: Seq[Pass]): Map[String, Double] = Map(
    "functions.ivf_train_ms" -> Stats.median(tr.allMs("functions.ivf_train")),
    "functions.ivf_write_ms" -> Stats.median(tr.allMs("functions.ivf_write")),
    "functions.ivf_probe_ms" -> Stats.median(tr.timedMs("functions.ivf_probe")))

  /** Vectors scored per probed query: the stored size of the `NProbe` cells
    * whose centroids are nearest by cosine, ties to the lower cell id. */
  override def traceExtras(): Map[String, Double] = {
    val cellRows = spark.read.parquet(indexPath).groupBy(col("cell").cast(LongType)).count()
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qs = batches.flatMap(_._2)
    val scored = qs.map { case (_, qv) =>
      cents.map { case (cid, c) => (-centroidCosine(qv, c), cid) }
        .sorted.take(NProbe).map(p => cellRows.getOrElse(p._2, 0L)).sum
    }
    Map("functions.ivf_candidates_per_query" -> scored.sum.toDouble / qs.size)
  }
}

object AnnSearchWorkload {
  val Vectors = 10000
  val Dim = 64
  val Clusters = 24
  val Spread = 0.35
  val Tags = 100
  val Files = 12
  val Centroids = 16
  val TrainIters = 3
  val NProbe = 2
  val K = 10
  val Batches = 2
  val BatchSize = 32
  val QueryIdBase = 10000000L
  val RecallFloor = 0.5

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Cosine as the engine scores it: one dot product over the two norms. */
  def cosine(q: Array[Float], v: Array[Float]): Double =
    dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v)))

  /** Cosine against a double-valued centroid, as cell probing scores it. */
  def centroidCosine(q: Array[Float], c: Vector[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < q.length) { acc += q(i).toDouble * c(i); i += 1 }
    acc / (math.sqrt(dot(q, q)) * math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
  }

  /** Brute-force top-k ids by cosine, descending, ties to the lower id. */
  def topK(q: Array[Float], vs: Iterator[(Long, Array[Float])]): Seq[Long] = {
    val best = scala.collection.mutable.TreeSet.empty[(Double, Long)]
    vs.foreach { case (id, v) =>
      best += ((-cosine(q, v), id))
      if (best.size > K) best -= best.last
    }
    best.toSeq.map(_._2)
  }
}
