package perfbench

import graft.functions.{Contamination, Dedup, Median, TextFunctions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `clean_docs`: the LLM corpus-cleaning chain in batch over generated
 * documents whose lengths are long-tailed, from a few hundred characters to
 * 12,000. One pass runs each step over the whole corpus: the quality score
 * gated at its per-language binned median, decontamination against a
 * generated eval set, MinHash near-duplicate pairs, and canonical-member
 * selection over their clusters. The `expressions` kernels and the shuffles
 * (band self-join, verify joins, cluster contraction) dominate; the JSON
 * layers do nothing. The long documents expose the per-k-gram
 * `substringSQL` walk in the shingle kernels, which is quadratic in length.
 */
final class CleanDocsWorkload(ctx: Ctx) extends Workload {
  import CleanDocsWorkload._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private var docs: Vector[(Long, String, String)] = _
  private var plantedPairs: Set[(Long, Long)] = _
  private var contaminated: Set[Long] = _
  private var kept: Set[Long] = _
  private var corpus: DataFrame = _
  private var evalSet: DataFrame = _
  private var lastPairs: Seq[(Long, Long, Double)] = Nil

  def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    // Every length and every choice that sets a length is drawn from a
    // generator with a fixed seed; only the text comes from `--seed`. The
    // shingle kernels cost O(n^2) per document, so lengths drawn from the
    // seed would make the work of a pass depend on the seed.
    val sizes = new scala.util.Random(SizeSeed)
    val passages = Vector.fill(EvalPassages)(TextGen.prose(rnd, 200 + sizes.nextInt(200)))
    val out = Vector.newBuilder[(Long, String, String)]
    val pairs = Set.newBuilder[(Long, Long)]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val planted = Set.newBuilder[Long]
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until Docs) {
      val text =
        if (i % 20 == 19) {
          // A near-duplicate copy of an earlier original (never one of the
          // long tail): a few words replaced, kept only if its 4-gram
          // Jaccard with the original is >= Threshold.
          val j = originals(originals.size - 1 - sizes.nextInt(math.min(originals.size, 50)))
          val copy = Iterator.continually(edit(rnd, texts(j), 1 + texts(j).length / 800))
            .find(c => jaccard(texts(j), c) >= Threshold).get
          pairs += ((j.toLong, i.toLong))
          copy
        } else {
          if (!TailLengths.contains(i)) originals += i
          val n = TailLengths.getOrElse(i,
            math.min(2000, (300 * math.exp(math.abs(sizes.nextGaussian()) * 1.1)).toInt))
          val body = TextGen.prose(rnd, n, punct = 0.02 + 0.15 * rnd.nextDouble(),
            digits = 0.1 * rnd.nextDouble())
          if (i % 33 == 5) {
            // A planted eval passage, spliced in at a word boundary.
            val at = body.indexOf(' ', body.length / 2) max 0
            planted += i.toLong
            body.substring(0, at) + " " + passages(sizes.nextInt(passages.size)) + body.substring(at)
          } else body
        }
      texts += text
      out += ((i.toLong, Langs(i % Langs.size), text))
    }
    docs = out.result()
    plantedPairs = pairs.result()

    // Expected outputs, computed here with plain Scala collections.
    val evalGrams = passages.flatMap(p => grams(p, ContamK)).toSet
    contaminated = docs.collect {
      case (id, _, t) if grams(t, ContamK).count(evalGrams) >= MinOverlap => id
    }.toSet
    Check(planted.result().forall(contaminated),
      "generator: a planted contamination is below the overlap threshold")
    kept = docs.groupBy(_._2).values.flatMap { group =>
      val bins = group.map { case (id, _, t) => id -> bin(t) }
      val sorted = bins.map(_._2).sorted
      val med = sorted((sorted.size + 1) / 2 - 1)
      bins.collect { case (id, b) if b >= med => id }
    }.toSet

    val schema = StructType(Seq(StructField("id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (a, b, c) => Row(a, b, c) }, Files), schema)
      .write.parquet(ctx.path("docs"))
    corpus = spark.read.parquet(ctx.path("docs"))
    evalSet = spark.createDataFrame(passages.zipWithIndex.map { case (p, i) => (i.toLong, p) })
      .toDF("id", "text")
  }

  def pass(): Pass = {
    val t0 = System.nanoTime
    val gated = tr.span("functions.quality") {
      Median.gateAtBinnedMedian(
        corpus.select(col("id"), col("lang"), TextFunctions.qualityScore(col("text")).as("q")),
        "lang", "q").select(col("id")).collect().map(_.getLong(0)).toSet
    }
    val flagged = tr.span("functions.contam") {
      Contamination.contaminatedDocs(corpus, evalSet, "id", "text", k = ContamK,
        minOverlap = MinOverlap).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    val pairs = tr.span("functions.dedup_pairs") {
      Dedup.minhashPairs(corpus, "id", "text", shingleK = DedupK, threshold = Threshold)
        .select(col("i"), col("j"), col("jaccard")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val canonical = tr.span("functions.clusters") {
      val pairDf = spark.createDataFrame(pairs.map(p => (p._1, p._2, p._3))).toDF("i", "j", "jaccard")
      Dedup.keepCanonical(corpus, "id", pairDf).select(col("id")).collect().map(_.getLong(0)).toSet
    }
    val wall = System.nanoTime - t0

    Check(gated == kept, s"quality gate kept ${gated.size} docs, expected ${kept.size} " +
      s"(${(gated diff kept).size} unexpected, ${(kept diff gated).size} missing)")
    Check(flagged == contaminated, s"contamination flagged ${flagged.size} docs, expected " +
      s"${contaminated.size} (${(flagged diff contaminated).take(5)} unexpected, " +
      s"${(contaminated diff flagged).take(5)} missed)")
    val found = pairs.map(p => (p._1 min p._2, p._1 max p._2)).toSet
    val missed = plantedPairs.filterNot(found)
    Check(missed.isEmpty, s"near-duplicate pairs missed: ${missed.take(5)} of ${plantedPairs.size}")
    val text = docs.map(d => d._1 -> d._3).toMap
    pairs.sortBy(p => (p._1, p._2)).take(JaccardSample).foreach { case (i, j, _) =>
      val jac = jaccard(text(i), text(j))
      Check(jac >= Threshold, s"reported pair ($i, $j) has 4-gram Jaccard $jac < $Threshold")
    }
    Check(canonical == canonicalIds(docs.map(_._1), found),
      s"keepCanonical kept ${canonical.size} docs, expected " +
        s"${canonicalIds(docs.map(_._1), found).size}")
    lastPairs = pairs
    Pass(Docs, Seq(wall / 1e6), wall)
  }

  override def layerMetrics(timed: Seq[Pass]): Map[String, Double] = {
    def med(n: String) = Stats.median(tr.timedMs(n))
    Map(
      "functions.quality_ms" -> med("functions.quality"),
      "functions.contam_ms" -> med("functions.contam"),
      "functions.clusters_ms" -> med("functions.clusters"),
      "functions.dedup_pairs" -> lastPairs.size.toDouble)
  }

  /** The MinHash index alone, and its banded candidate count, which the
    * pair search does not report. */
  override def traceExtras(): Map[String, Double] = {
    val t0 = System.nanoTime
    val candidates = tr.span("functions.dedup_index") {
      val idx = Dedup.buildMinhashIndex(corpus, "id", "text", shingleK = DedupK)
      val banded = idx.banded.persist()
      try {
        banded.count()
        val indexMs = (System.nanoTime - t0) / 1e6
        val n = banded.as("l").join(banded.as("r"), col("l.band") === col("r.band") &&
            col("l.key") === col("r.key") && col("l.id") < col("r.id"))
          .select(col("l.id"), col("r.id")).distinct().count()
        (indexMs, n)
      } finally banded.unpersist()
    }
    Map(
      "functions.dedup_index_ms" -> candidates._1,
      "functions.dedup_candidates" -> candidates._2.toDouble,
      "functions.dedup_pairs_per_candidate" -> lastPairs.size.toDouble / candidates._2)
  }
}

object CleanDocsWorkload {
  val Docs = 250
  /** Seed of the document and passage lengths, the same in every run. */
  val SizeSeed = 20240601L
  /** Document index -> length, for the long tail. */
  val TailLengths: Map[Int, Int] =
    Map(100 -> 12000, 200 -> 6000) ++ (0 until 8).map(k => (20 + 28 * k) -> (2000 + 300 * k))
  val Files = 12
  val Langs = Seq("en", "de", "fr")
  val EvalPassages = 60
  val DedupK = 4
  val ContamK = 16
  val MinOverlap = 10
  val Threshold = 0.8
  val JaccardSample = 200

  def grams(s: String, k: Int): Set[String] =
    if (s.length <= k) Set(s) else (0 to s.length - k).iterator.map(i => s.substring(i, i + k)).toSet

  def jaccard(a: String, b: String): Double = {
    val x = grams(a, DedupK); val y = grams(b, DedupK)
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Replaces `n` words of `text` with vocabulary words. */
  def edit(rnd: scala.util.Random, text: String, n: Int): String = {
    val words = text.split(" ", -1)
    (0 until n).foreach(_ => words(rnd.nextInt(words.length)) = TextGen.word(rnd))
    words.mkString(" ")
  }

  /** The quality score's 2^-20 bin, from the score's definition: letters
    * count double, spaces once, digits -3 and punctuation -5, over length. */
  def bin(t: String): Long = {
    val letters = t.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
    val digits = t.count(c => c >= '0' && c <= '9')
    val puncts = t.count(c => ".,;:!?".indexOf(c) >= 0)
    val spaces = t.count(_ == ' ')
    val score = (letters * 2 + spaces - digits * 3 - puncts * 5).toDouble / t.length
    math.floor(score * 1048576.0).toLong
  }

  /** Ids kept when every connected component of `pairs` keeps its minimum. */
  def canonicalIds(ids: Seq[Long], pairs: Set[(Long, Long)]): Set[Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    ids.filter(id => find(id) == id).toSet
  }
}
