package perfbench

import graft.schema.JsonSchemaInference
import graft.streaming.ExpandJsonStreaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.DataType

/**
 * `expand_stream`: a backlog of small JSON-lines files drained by one
 * Structured Streaming query per pass, one file per trigger
 * (`Trigger.AvailableNow`, `maxFilesPerTrigger` 1), through
 * `ExpandJsonStreaming.expandWholeObserved` into a parquet file sink with a
 * checkpoint. The schema is fixed once, at set-up, by `inferThenExpand`
 * over a clean sample. Batches are small, so offset and commit logs,
 * per-batch planning and job scheduling dominate, not parsing: the regime
 * Drizzle (SOSP 2017) measures. The loop is closed: each pass drains the
 * whole backlog. A unit is one micro-batch.
 */
final class ExpandStreamWorkload(ctx: Ctx) extends Workload {
  import ExpandStreamWorkload._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val want = new Totals
  private var malformed = 0L
  private var newField = 0L
  private var schema: DataType = _
  private var passNo = 0
  private val inPath = ctx.path("stream-in")
  private val samplePath = ctx.path("stream-sample")
  private val timedProgress = Seq.newBuilder[StreamingQueryProgress]

  def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    new java.io.File(inPath).mkdirs()
    new java.io.File(samplePath).mkdirs()
    // The schema sample holds only well-formed messages without the new
    // root field, as a topic's replayed history would.
    val sample = new java.io.PrintWriter(s"$samplePath/sample.json", "UTF-8")
    (0 until 1024).foreach(i => sample.println(MessageGen.message(rnd, 1000000 + i, new Totals)))
    sample.close()
    var id = 0
    (0 until FilesPerPass).foreach { f =>
      val out = new java.io.PrintWriter(f"$inPath/batch-$f%04d.json", "UTF-8")
      (0 until RecordsPerFile).foreach { _ =>
        if (id % 50 == 11) {
          out.println(s"""{"user":{"name":"truncated-$id""")
          malformed += 1
        } else {
          val m = MessageGen.message(rnd, id, want)
          if (id % 25 == 3) {
            out.println(m.dropRight(1) + s""","promo":{"code":"P$id"}}""")
            newField += 1
          } else out.println(m)
        }
        id += 1
      }
      out.close()
    }
    schema = tr.span("transform.build.infer") {
      ExpandJsonStreaming.inferThenExpand(spark.read.text(samplePath), source(), "value")
        .schema("value").dataType
    }
  }

  private def source(): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", 1).text(inPath)

  def pass(): Pass = {
    passNo += 1
    val ck = ctx.path(s"stream-ck-$passNo")
    val sink = ctx.path(s"stream-out-$passNo")
    val t0 = System.nanoTime
    val progress = tr.span("streaming.drain") {
      val q = ExpandJsonStreaming.expandWholeObserved(source(), "value", schema, Metric)
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ck)
        .option("path", sink)
        .trigger(Trigger.AvailableNow())
        .start()
      tr.adopt(q.runId.toString)
      try q.awaitTermination() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    val wall = System.nanoTime - t0

    Check.equal("micro-batches", progress.size, FilesPerPass)
    def observed(name: String) =
      progress.map(p => p.observedMetrics.get(Metric).getAs[Long](name)).sum
    Check.equal("observed rows", observed("rows"), Rows)
    Check.equal("observed malformed_rows", observed("malformed_rows"), malformed)
    Check.equal("observed new_field_rows", observed("new_field_rows"), newField)
    Check.equal("observed drifted_field_rows", observed("drifted_field_rows"), 0L)
    val out = spark.read.parquet(sink)
    Check.equal("sink rows", out.count(), Rows)
    val got = ExpandJsonWorkload.readTotals(
      out.where(col("value.id").isNotNull)
        .agg(ExpandJsonWorkload.totalCols(col("value")).head,
          ExpandJsonWorkload.totalCols(col("value")).tail: _*).head(), 0)
    Check(got.same(want), s"sink totals $got, generator $want")
    Main.deleteTree(new java.io.File(ck))
    Main.deleteTree(new java.io.File(sink))

    if (tr.inTimed) timedProgress ++= progress
    Pass(Rows, progress.map(_.durationMs.get("triggerExecution").toDouble), wall)
  }

  override def layerMetrics(timed: Seq[Pass]): Map[String, Double] = {
    val sample = scala.io.Source.fromFile(s"$samplePath/sample.json", "UTF-8")
    val lines = try sample.getLines().toVector finally sample.close()
    val t0 = System.nanoTime
    tr.span("schema.infer")(JsonSchemaInference.inferFromSample(lines))
    val inferMs = (System.nanoTime - t0) / 1e6
    Map(
      "schema.infer_ms" -> inferMs,
      "schema.docs_inferred" -> lines.size.toDouble,
      "transform.build_ms" -> Stats.median(tr.allMs("transform.build.infer"))) ++
      streamingMetrics(timed)
  }

  /** The `streaming` layer's metrics, from the timed passes' query progress. */
  def streamingMetrics(timed: Seq[Pass]): Map[String, Double] = {
    val ps = timedProgress.result()
    def mean(phase: String) =
      ps.map(p => Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)).sum / ps.size
    val batchMs = ps.map(_.durationMs.get("triggerExecution").toDouble)
    Map(
      "streaming.batches" -> ps.size.toDouble / timed.size,
      "streaming.latestOffset_ms" -> mean("latestOffset"),
      "streaming.getBatch_ms" -> mean("getBatch"),
      "streaming.queryPlanning_ms" -> mean("queryPlanning"),
      "streaming.addBatch_ms" -> mean("addBatch"),
      "streaming.walCommit_ms" -> mean("walCommit"),
      "streaming.batch_p50_ms" -> Stats.median(batchMs),
      "streaming.batch_p95_ms" -> Stats.quantile(batchMs, 0.95))
  }
}

object ExpandStreamWorkload {
  val FilesPerPass = 10
  val RecordsPerFile = 100
  val Rows: Long = FilesPerPass.toLong * RecordsPerFile
  val Metric = "expand_json_drift"
}
