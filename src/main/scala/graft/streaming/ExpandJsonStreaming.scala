package graft.streaming

import graft.transform.ExpandJson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.Row

/**
 * Streaming forms of the ExpandJson operator.
 *
 * The reference is itself a stream transform (a Kafka Connect SMT,
 * record-at-a-time); its 16-entry schema cache makes "first record's schema
 * sticks" the de-facto semantics (reference: ExpandJson.java:73, 132-134).
 * Structured Streaming's analogues:
 *
 *  - '''fixed schema''' (production path): schema known up front — a pure
 *    narrow `from_json` projection, stateless, watermark-transparent;
 *    works with any trigger including continuous processing.
 *  - '''per-microbatch inference''' (`foreachBatchExpand`): re-infers from
 *    each micro-batch — the reference's cache semantics at micro-batch
 *    granularity (SURVEY.md §1.4); schema drift between batches is allowed,
 *    within a batch the merged sample schema wins.
 */
object ExpandJsonStreaming {

  /** Fixed-schema streaming expand of one whole column (schemaless path). */
  def expandWhole(stream: DataFrame, column: String, schema: DataType): DataFrame =
    ExpandJson.whole(column, schemaOverride = Some(schema))(stream)

  /** Fixed-schema streaming per-field expand (with-schema path). */
  def expandFields(stream: DataFrame, schemas: Map[String, DataType]): DataFrame =
    ExpandJson.onFields(schemas.keys.toSeq, schemaOverrides = schemas)(stream)

  /** Fixed-schema streaming expand with drift OBSERVABILITY — the
    * production fast path made measurable. The parse runs PERMISSIVE (a
    * drifted record must surface in a metric, not kill the query), and a
    * `Dataset.observe` node reports three counters per micro-batch through
    * `StreamingQueryProgress.observedMetrics(metricName)`:
    *
    *  - `malformed_rows`: raw value present but not a JSON object
    *    (`json_object_keys` nulls out) — PERMISSIVE `from_json` degrades
    *    such rows to an all-null row, so the parse output alone can't
    *    distinguish them from `{}`;
    *  - `drifted_field_rows`: rows where some schema field parsed null but
    *    the raw JSON HAS that key non-null — the silent-null drift the
    *    PERMISSIVE fast path otherwise hides (e.g. int field arriving as a
    *    string);
    *  - `new_field_rows`: rows whose JSON carries root keys the fixed
    *    schema doesn't know — the "producer added a field" signal that says
    *    re-infer;
    * plus `rows`, the batch denominator.
    *
    * Scale: the raw string is parsed at most twice beyond the `from_json`
    * the operator exists for — one `json_tuple` extracts EVERY root field
    * in a single pass (per-field `get_json_object` would re-scan the
    * string once per schema field), one `json_object_keys` drives the
    * malformed/new-field checks — all fused into the projection stage: no
    * shuffle, no extra pass, works under any trigger. Root keys must be
    * plain identifiers (the reference's own root-level-only contract). */
  def expandWholeObserved(
      stream: DataFrame,
      column: String,
      schema: DataType,
      metricName: String = "expand_json_drift"): DataFrame = {
    val rawCol = "__graft_raw"
    val withRaw = stream.withColumn(rawCol, col(column).cast(StringType))
    val expanded = ExpandJson.whole(column, schemaOverride = Some(schema),
      permissive = true)(withRaw)
    val fields: Seq[String] = schema match {
      case st: StructType => st.fieldNames.toSeq
      case _              => Nil
    }
    val rawFieldCols = fields.map("__graft_rawf_" + _)
    // json_tuple yields each root field's raw value (JSON null -> SQL null,
    // matching get_json_object) from ONE parse of the string.
    val withTuple =
      if (fields.isEmpty) expanded
      else expanded.select(
        col("*"),
        json_tuple(col(rawCol), fields: _*).as(rawFieldCols))
    val malformed = col(rawCol).isNotNull && json_object_keys(col(rawCol)).isNull
    val drifted =
      if (fields.isEmpty) lit(false)
      else col(column).isNotNull && fields.zip(rawFieldCols).map { case (f, rf) =>
        when(col(column).getField(f).isNull && col(rf).isNotNull, 1).otherwise(0)
      }.reduce(_ + _) > 0
    val newField = schema match {
      case _: StructType =>
        size(array_except(json_object_keys(col(rawCol)), typedLit(fields))) > 0
      case _ => lit(false)
    }
    withTuple
      .observe(metricName,
        count(when(malformed, 1)).as("malformed_rows"),
        count(when(drifted, 1)).as("drifted_field_rows"),
        count(when(newField, 1)).as("new_field_rows"),
        count(lit(1)).as("rows"))
      .drop(rawCol)
      .drop(rawFieldCols: _*)
  }

  /** Per-record dynamic schema on a stream: variant mode needs no
    * plan-time schema at all, so it is watermark-transparent and drift-proof
    * — the closest streaming analogue of the reference's cache-free
    * schemaless path. */
  def expandVariant(stream: DataFrame, column: String, permissive: Boolean = false): DataFrame =
    ExpandJson.wholeVariant(column, permissive)(stream)

  /** Per-microbatch inference: each batch is sampled, inferred with the
    * KIP-301-faithful rules, expanded, and handed to `sink`. */
  def foreachBatchExpand(
      stream: DataFrame,
      transform: ExpandJson,
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) sink(transform(batch), id)
    }

  /** Convenience: infer once from a static sample frame (e.g. a parquet
    * replay of the topic), then run the stream with that fixed schema —
    * the recommended production recipe at scale (zero per-batch cost).
    * The schema is the one `ExpandJson.whole(column)` infers on the static
    * frame: `Merge` over the first 1,024 values of each of its first 1,024
    * partitions, faithful arrays
    * ([[graft.schema.JsonSchemaInference.infer]]). */
  def inferThenExpand(staticSample: DataFrame, stream: DataFrame, column: String): DataFrame =
    expandWhole(stream, column,
      ExpandJson.whole(column)(staticSample).select(col(column)).schema.head.dataType)
}
