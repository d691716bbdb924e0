package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.schema.JsonSchemaInference
import graft.sources.JsonLines
import graft.transform.ExpandJson
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `expand_json`: the reference's own operator, in batch, on Kafka-shaped
 * frames (`key`, `value` binary plus `topic`, `partition`, `offset`,
 * `timestamp`). One pass makes four calls over the same messages:
 * whole-value expansion with Merge inference, per-field expansion of a
 * root column and of the dotted `env.payload` path on a schematized frame,
 * whole-value variant parsing read back with `variant_get`, and
 * `JsonLines.read` over the messages written as JSON-lines files.
 * Executor parse CPU and driver inference dominate; nothing shuffles.
 */
final class ExpandJsonWorkload(ctx: Ctx) extends Workload {
  import ExpandJsonWorkload._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val want = new Totals
  private var metaSeq = 0L
  private var kafka: DataFrame = _
  private var schematized: DataFrame = _
  private val linesPath = ctx.path("jsonl")

  def prepare(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    new java.io.File(linesPath).mkdirs()
    val outs = (0 until Files).map(f => new java.io.PrintWriter(s"$linesPath/part-$f.json", "UTF-8"))
    val kafkaRows = Array.newBuilder[Row]
    val fieldRows = Array.newBuilder[Row]
    var id = 0
    while (id < Messages) {
      val m = MessageGen.message(rnd, id, want)
      val part = id % Files
      outs(part).println(m)
      kafkaRows += Row(s"order-$id".getBytes(UTF_8), m.getBytes(UTF_8), "orders", part,
        (id / Files).toLong, new java.sql.Timestamp(1700000000000L + id * 1000L))
      val seq = rnd.nextInt(1000)
      metaSeq += seq
      fieldRows += Row(id.toLong, Row(s"svc-${id % 7}", m), s"""{"src":"svc-${id % 7}","seq":$seq}""")
      id += 1
    }
    outs.foreach(_.close())
    def write(rows: Array[Row], schema: StructType, name: String): DataFrame = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, Files), schema)
        .write.parquet(ctx.path(name))
      spark.read.parquet(ctx.path(name))
    }
    System.err.println(s"perfbench: ${want.rows} messages, ${want.bytes} bytes")
    kafka = write(kafkaRows.result(), KafkaSchema, "kafka")
    schematized = write(fieldRows.result(), FieldsSchema, "schematized")
  }

  def pass(): Pass = {
    val t0 = System.nanoTime
    val whole = tr.span("transform.build.whole")(ExpandJson.value()(kafka))
    val wholeGot = tr.span("transform.exec.whole")(totals(whole, col("value")))
    val fields = tr.span("transform.build.fields")(
      ExpandJson.onFields(Seq("meta", "env.payload"))(schematized))
    val (fieldsGot, seqGot) = tr.span("transform.exec.fields") {
      val r = fields.agg(sum(col("meta.seq")), totalCols(col("env.payload")): _*).head()
      (readTotals(r, 1), r.getLong(0))
    }
    val variant = tr.span("transform.build.variant")(ExpandJson.wholeVariant("value")(kafka))
    val variantGot = tr.span("transform.exec.variant")(variantTotals(variant))
    val (lines, linesGot) = tr.span("sources.jsonlines") {
      val df = JsonLines.read(spark, linesPath)
      (df, totals(df.select(struct(col("*")).as("m")), col("m")))
    }
    val wall = System.nanoTime - t0

    val wholeType = whole.schema("value").dataType
    Check.equal("whole-value inferred type", Types.normalize(wholeType), Expected)
    Check.equal("env.payload inferred type",
      Types.normalize(fields.schema("env").dataType.asInstanceOf[StructType]("payload").dataType),
      Expected)
    Check.equal("JsonLines inferred type", Types.normalize(lines.schema), Expected)
    Check(wholeGot.same(want), s"whole-value totals $wholeGot, generator $want")
    Check(fieldsGot.same(want), s"env.payload totals $fieldsGot, generator $want")
    Check.equal("meta.seq sum", seqGot, metaSeq)
    Check(linesGot.same(want), s"JsonLines totals $linesGot, generator $want")
    // parse_json and from_json are independent parsers: their totals must agree.
    Check(variantGot.rows == wholeGot.rows && variantGot.ids == wholeGot.ids &&
      variantGot.tiers == wholeGot.tiers && variantGot.ts == wholeGot.ts &&
      variantGot.amount == wholeGot.amount && variantGot.lat == wholeGot.lat &&
      variantGot.firstQty == wholeGot.firstQty && variantGot.extra == wholeGot.extra,
      s"variant totals $variantGot, from_json totals $wholeGot")
    Pass(Messages, Seq(wall / 1e6), wall)
  }

  private def totals(df: DataFrame, v: Column): Totals =
    readTotals(df.agg(totalCols(v).head, totalCols(v).tail: _*).head(), 0)

  private def variantTotals(df: DataFrame): Totals = {
    def get(path: String, t: String) = variant_get(col("value"), path, t)
    val r = df.agg(count(lit(1)), sum(get("$.id", "int")), sum(get("$.user.tier", "int")),
      sum(get("$.ts", "bigint")), sum(get("$.amount", "double")),
      sum(get("$.user.geo.lat", "double")), sum(get("$.items[0].qty", "int")),
      count(get("$.extra.code", "int"))).head()
    val t = new Totals
    t.rows = r.getLong(0); t.ids = r.getLong(1); t.tiers = r.getLong(2); t.ts = r.getLong(3)
    t.amount = r.getDouble(4); t.lat = r.getDouble(5); t.firstQty = r.getLong(6)
    t.extra = r.getLong(7)
    t
  }

  override def layerMetrics(timed: Seq[Pass]): Map[String, Double] = {
    def med(n: String) = Stats.median(tr.timedMs(n))
    val sample = kafka.select(col("value").cast("string")).limit(1024).collect().map(_.getString(0))
    val inferMs = {
      val t0 = System.nanoTime
      tr.span("schema.infer")(JsonSchemaInference.inferFromSample(sample.toSeq))
      (System.nanoTime - t0) / 1e6
    }
    Map(
      "schema.infer_ms" -> inferMs,
      "schema.docs_inferred" -> sample.length.toDouble,
      "transform.build_ms" -> (med("transform.build.whole") + med("transform.build.fields") +
        med("transform.build.variant")),
      "transform.exec_ms.whole" -> med("transform.exec.whole"),
      "transform.exec_ms.fields" -> med("transform.exec.fields"),
      "transform.exec_ms.variant" -> med("transform.exec.variant"),
      "transform.ns_per_byte" -> med("transform.exec.whole") * 1e6 / want.bytes,
      "sources.jsonlines_ms" -> med("sources.jsonlines"))
  }
}

object ExpandJsonWorkload {
  val Messages = 12000
  val Files = 12

  val KafkaSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))

  val FieldsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("env", StructType(Seq(
      StructField("source", StringType), StructField("payload", StringType)))),
    StructField("meta", StringType)))

  /** The KIP-301 types of a message: int-range integers are `int`, larger
    * ones `long`, non-integral numbers `double`, and `[]` is
    * `array<string>`. */
  val Expected: DataType = Types.normalize(StructType(Seq(
    StructField("id", IntegerType),
    StructField("user", StructType(Seq(
      StructField("name", StringType), StructField("tier", IntegerType),
      StructField("geo", StructType(Seq(
        StructField("lat", DoubleType), StructField("lon", DoubleType))))))),
    StructField("amount", DoubleType),
    StructField("ts", LongType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("sku", IntegerType), StructField("qty", IntegerType),
      StructField("price", DoubleType), StructField("note", StringType))))),
    StructField("tags", ArrayType(StringType)),
    StructField("extra", StructType(Seq(
      StructField("flag", BooleanType), StructField("code", IntegerType)))))))

  /** Aggregates over an expanded message struct `v`, in `readTotals` order. */
  def totalCols(v: Column): Seq[Column] = Seq(
    count(lit(1)), sum(v("id")), sum(v("user")("tier")), sum(v("ts")), sum(size(v("items"))),
    sum(aggregate(v("items"), lit(0L), (a, x) => a + x("qty"))),
    sum(element_at(v("items"), 1)("qty")), count(v("extra")),
    sum(v("amount")), sum(aggregate(v("items"), lit(0.0), (a, x) => a + x("price"))),
    sum(v("user")("geo")("lat")), sum(size(v("tags"))))

  def readTotals(r: Row, at: Int): Totals = {
    val t = new Totals
    t.rows = r.getLong(at); t.ids = r.getLong(at + 1); t.tiers = r.getLong(at + 2)
    t.ts = r.getLong(at + 3); t.items = r.getLong(at + 4); t.qty = r.getLong(at + 5)
    t.firstQty = r.getLong(at + 6); t.extra = r.getLong(at + 7); t.amount = r.getDouble(at + 8)
    t.price = r.getDouble(at + 9); t.lat = r.getDouble(at + 10)
    Check.equal("tags element count", r.getLong(at + 11), 0L)
    t
  }
}
