package graft.sources

import graft.schema.JsonSchemaInference
import graft.schema.JsonSchemaInference.{Merge, Mode}
import graft.transform.ExpandJson
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * JSON-lines file source with the engine's KIP-301-faithful inference
 * instead of Spark's own (`spark.read.json` infers bigint for every
 * integer, decimal for big numbers, and unifies array element types — all
 * deliberate divergences from the reference semantics, SURVEY.md §1.2).
 *
 * Two-pass, scale-shaped like ExpandJson's batch mode: pass 1 infers with
 * the engine's one sampler ([[JsonSchemaInference.infer]]) over a frame of
 * one partition per file, files in path order, so it reads the first 1,024
 * lines of each of the first 1,024 files under `Merge` (the first line of
 * the first non-empty file under `FirstRow`). It samples per file, not per
 * scan split: Spark packs small files into one split, and a split-wise
 * sample would miss a field that only a small, later file carries. Pass 2
 * is a full scan with one codegen'd `from_json` projection against the
 * inferred schema. A line behind the first 1,024 of its file is unseen by
 * the inference; exhaustive inference is out of scope.
 */
object JsonLines {

  def read(
      spark: SparkSession,
      path: String,
      mode: Mode = Merge,
      permissive: Boolean = false): DataFrame = {
    val lines = spark.read.text(path)
    val schema = infer(lines, mode, skipMalformed = permissive).getOrElse(
      throw new IllegalArgumentException(
        s"Cannot infer a schema for the JSON lines at $path: no lines in sample"))
    lines
      .transform(ExpandJson.whole("value", permissive = permissive, schemaOverride = Some(schema)))
      .select(col("value.*"))
  }

  /** The inferred schema alone (for schema-registry style workflows that
    * need the schema before reading). */
  def inferSchema(spark: SparkSession, path: String, mode: Mode = Merge): Option[DataType] =
    infer(spark.read.text(path), mode, skipMalformed = false)

  /** The lines of each file of the scan as one partition per file, files
    * in path order, read lazily: the sampler takes only each file's first
    * lines. */
  private def infer(lines: DataFrame, mode: Mode, skipMalformed: Boolean): Option[DataType] = {
    val files = lines.inputFiles.sorted
    if (files.isEmpty) return None
    val conf = new SerializableConfiguration(lines.sparkSession.sessionState.newHadoopConf())
    val perFile = lines.sparkSession.sparkContext.parallelize(files.toSeq, files.length)
      .mapPartitions { it =>
        val codecs = new CompressionCodecFactory(conf.value)
        it.flatMap(f => fileLines(f, conf.value, codecs))
      }
    JsonSchemaInference.infer(perFile, mode, skipMalformed = skipMalformed)
  }

  /** The lines of one file, split and decoded as the text source does:
    * Hadoop's `LineReader` (`\n`, `\r` or `\r\n`), the codec chosen by the
    * file's extension, the bytes taken as UTF-8. Lazy; the reader closes
    * with the task. */
  private def fileLines(file: String, conf: Configuration,
      codecs: CompressionCodecFactory): Iterator[String] = {
    val path = new Path(new java.net.URI(file))
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(codecs.getCodec(path))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new LineReader(in, conf)
    TaskContext.get().addTaskCompletionListener[Unit](_ => reader.close())
    val line = new Text()
    Iterator.continually(reader.readLine(line)).takeWhile(_ > 0)
      .map(_ => UTF8String.fromBytes(line.getBytes, 0, line.getLength).toString)
  }
}
