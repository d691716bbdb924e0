package graft.sources

import graft.schema.JsonSchemaInference
import graft.schema.JsonSchemaInference.{FirstRow, Merge, Mode}
import graft.transform.ExpandJson
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
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
 * Two-pass, scale-shaped like ExpandJson's batch mode: pass 1 samples at
 * most `sampleSize` lines spread over every file (one job that reads
 * only the first lines of each file), pass 2 is a full scan with
 * one codegen'd `from_json` projection against the inferred schema.
 */
object JsonLines {

  def read(
      spark: SparkSession,
      path: String,
      mode: Mode = Merge,
      sampleSize: Int = 1024,
      permissive: Boolean = false): DataFrame = {
    val lines = spark.read.text(path)
    val schema = infer(lines, mode, sampleSize).getOrElse(
      throw new IllegalArgumentException(
        s"Cannot infer a schema for the JSON lines at $path: no lines in sample"))
    lines
      .transform(ExpandJson.whole("value", permissive = permissive, schemaOverride = Some(schema)))
      .select(col("value.*"))
  }

  /** The inferred schema alone (driver-side; for schema-registry style
    * workflows that need the schema before reading). */
  def inferSchema(spark: SparkSession, path: String, mode: Mode = Merge,
      sampleSize: Int = 1024): Option[DataType] =
    infer(spark.read.text(path), mode, sampleSize)

  private def infer(lines: DataFrame, mode: Mode, sampleSize: Int): Option[DataType] = {
    val n = if (mode == FirstRow) 1 else sampleSize
    JsonSchemaInference.inferFromSample(sample(lines, n), mode)
  }

  /** At most `n` lines in one job, spread over every file of the scan: the
    * files in path order, up to `n` of them, each contributing its first
    * `n / files` lines (the first `n % files` files one more), in at most
    * `defaultParallelism` tasks. Sampling the scan's partitions instead
    * would read only the first file of each, since Spark packs small
    * files into one split, so a root field that occurs only in a later
    * file would be left out of the schema and dropped from every row.
    * With `n = 1` (`FirstRow`) the sample is line 1 of the first file. */
  private def sample(lines: DataFrame, n: Int): Seq[String] = {
    require(n > 0, "sampleSize must be positive")
    val files = lines.inputFiles.sorted.take(n)
    if (files.isEmpty) return Nil
    val spark = lines.sparkSession
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val (each, extra) = (n / files.length, n % files.length)
    val tasks = math.min(files.length, spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(files.toSeq.zipWithIndex, tasks)
      .mapPartitions { it =>
        val codecs = new CompressionCodecFactory(conf.value)
        it.flatMap { case (f, i) => head(f, each + (if (i < extra) 1 else 0), conf.value, codecs) }
      }
      .collect().toSeq
  }

  /** The first `n` lines of one file, split and decoded as the text source
    * does: Hadoop's `LineReader` (`\n`, `\r` or `\r\n`), the codec chosen
    * by the file's extension, the bytes taken as UTF-8. */
  private def head(file: String, n: Int, conf: Configuration,
      codecs: CompressionCodecFactory): Iterator[String] = {
    val path = new Path(new java.net.URI(file))
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(codecs.getCodec(path))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new LineReader(in, conf)
    try {
      val line = new Text()
      val out = Seq.newBuilder[String]
      var read = 0
      while (read < n && reader.readLine(line) > 0) {
        out += UTF8String.fromBytes(line.getBytes, 0, line.getLength).toString
        read += 1
      }
      out.result().iterator
    } finally reader.close()
  }
}
