package perfbench

/**
 * `expand`: the reference's operator in batch and as a stream, one after the
 * other in every pass. A pass is an `expand_json` pass over the Kafka-shaped
 * frames and the JSON-lines files, then an `expand_stream` drain of the
 * backlog of small files into the parquet sink; each half checks its own
 * outputs. The cache is cleared and the heap collected between the halves,
 * outside the timed wall. A unit is one whole pass.
 *
 * The two halves are one workload so that the benchmark's fixed time budget
 * for all runs is shared by fewer workloads, and each run can time longer.
 */
final class ExpandWorkload(ctx: Ctx) extends Workload {
  private val batch = new ExpandJsonWorkload(ctx)
  private val stream = new ExpandStreamWorkload(ctx)

  def prepare(): Unit = {
    batch.prepare()
    stream.prepare()
  }

  def pass(): Pass = {
    val b = batch.pass()
    Main.quiesce(ctx.spark)
    val s = stream.pass()
    val wall = b.wallNs + s.wallNs
    Pass(b.records + s.records, Seq(wall / 1e6), wall)
  }

  override def layerMetrics(timed: Seq[Pass]): Map[String, Double] =
    batch.layerMetrics(timed) ++ stream.streamingMetrics(timed)
}
