package perfbench

/** The per-layer metrics of a traced run. Every traced run reports all of
  * them; a layer a workload does not exercise reads 0 on it. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "schema.infer_ms" -> "ms",
    "schema.docs_inferred" -> "count",
    "transform.build_ms" -> "ms",
    "transform.exec_ms.whole" -> "ms",
    "transform.exec_ms.fields" -> "ms",
    "transform.exec_ms.variant" -> "ms",
    "transform.ns_per_byte" -> "ns/byte",
    "sources.jsonlines_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.latestOffset_ms" -> "ms",
    "streaming.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms",
    "streaming.addBatch_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms",
    "streaming.batch_p50_ms" -> "ms",
    "streaming.batch_p95_ms" -> "ms",
    "functions.quality_ms" -> "ms",
    "functions.contam_ms" -> "ms",
    "functions.dedup_index_ms" -> "ms",
    "functions.dedup_candidates" -> "count",
    "functions.dedup_pairs" -> "count",
    "functions.dedup_pairs_per_candidate" -> "ratio",
    "functions.clusters_ms" -> "ms",
    "functions.ivf_train_ms" -> "ms",
    "functions.ivf_write_ms" -> "ms",
    "functions.ivf_probe_ms" -> "ms",
    "functions.ivf_candidates_per_query" -> "count",
    "expressions.shingles_ns_per_char.500" -> "ns/char",
    "expressions.shingles_ns_per_char.16000" -> "ns/char",
    "expressions.coverage_ns_per_char.16000" -> "ns/char",
    "expressions.minhash_ns_per_shingle" -> "ns/shingle",
    "expressions.dot_ns_per_dim" -> "ns/dim")

  def unit(name: String): String =
    Units.collectFirst { case (`name`, u) => u }.getOrElse(sys.error(s"unknown layer metric $name"))

  val Defaults: Map[String, (Double, String)] = Units.map { case (k, u) => k -> (0.0, u) }.toMap
}
