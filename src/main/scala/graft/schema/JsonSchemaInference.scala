package graft.schema

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * JSON -> Spark `DataType` schema inference, faithful to the reference's
 * KIP-301-derived algorithm (reference: ExpandJson.java:187-258):
 *
 *  - JSON null        -> StringType                 (ExpandJson.java:193-194)
 *  - boolean          -> BooleanType                (ExpandJson.java:196-197)
 *  - int/short-ranged -> IntegerType (NOT Long!)    (ExpandJson.java:203-206)
 *  - long-ranged      -> LongType                   (ExpandJson.java:209)
 *  - BigInteger       -> StringType                 (ExpandJson.java:201-202)
 *  - non-integral     -> DoubleType                 (ExpandJson.java:216)
 *  - BigDecimal*      -> StringType                 (ExpandJson.java:212-213)
 *  - string           -> StringType                 (ExpandJson.java:249-250)
 *  - array            -> ArrayType(infer(FIRST element)); empty -> array<string>
 *                                                   (ExpandJson.java:219-222)
 *  - object           -> StructType, field order preserved, all nullable
 *                                                   (ExpandJson.java:224-247)
 *
 * All inferred fields/types are nullable (ExpandJson.java:36, 188).
 * These rules deliberately differ from Spark's own JSON inference
 * (`schema_of_json` would pick LongType / DecimalType / unify array
 * elements), so this is custom Scala — it runs before plan construction
 * (on a bounded sample, see [[infer]]) and never on the executor hot path.
 *
 * (*) Jackson only produces BigDecimal nodes when configured with
 * USE_BIG_DECIMAL_FOR_FLOATS; with the reference's default ObjectMapper a
 * non-integral number is a DoubleNode, so the BigDecimal branch is
 * practically unreachable — we replicate it anyway for fidelity.
 */
object JsonSchemaInference {

  /** Metadata key carrying the generated Connect-style schema name on a
    * struct-typed field (SURVEY.md §1.3: Spark structs are anonymous, so the
    * name an Avro/Schema-Registry sink needs is preserved as metadata). */
  val SchemaNameKey = "connect.schema.name"
  /** Name for a struct that is an array element (ArrayType holds no metadata,
    * so the element's name rides on the enclosing field). */
  val ElementSchemaNameKey = "connect.element.schema.name"

  private val mapper = new ObjectMapper()

  /** How the per-record reference semantics map onto Spark's one-schema-per-plan:
    *  - FirstRow: schema of the first sampled record wins — the reference's
    *    de-facto behavior via its schema cache (ExpandJson.java:132-134).
    *  - Merge: widen across sampled records (int32+int64 -> int64, any+string
    *    -> string, union of struct fields) — the batch-friendly extension.
    */
  sealed trait Mode
  case object FirstRow extends Mode
  case object Merge extends Mode

  def parse(json: String): JsonNode = mapper.readTree(json)

  /** Infer the Spark type of a single JSON document (no naming). */
  def inferDataType(node: JsonNode): DataType =
    inferDataType(node, unifyArrayElements = false)

  /** As [[inferDataType]], with the array-element policy explicit.
    * `unifyArrayElements = false` (the default everywhere) is the
    * FAITHFUL mode: first-element-only inference, heterogeneous arrays
    * deliberately mis-schematized exactly like the reference
    * (ExpandJson.java:219-222). `true` is the Spark-native extension:
    * the element type is the [[mergeTypes]] widening fold over ALL
    * elements, so `[1, "a"]` infers `array<string>` instead of a parse
    * error downstream, and `[1, 2.5]` infers `array<double>` — useful
    * when the producer's arrays are union-typed; never the default
    * because it changes observable schemas vs the reference. */
  def inferDataType(node: JsonNode, unifyArrayElements: Boolean): DataType = node.getNodeType match {
    case JsonNodeType.NULL    => StringType
    case JsonNodeType.BOOLEAN => BooleanType
    case JsonNodeType.NUMBER =>
      if (node.isIntegralNumber) {
        if (node.isBigInteger) StringType
        else if (node.isInt || node.isShort) IntegerType
        else LongType
      } else {
        if (node.isBigDecimal) StringType
        else DoubleType
      }
    case JsonNodeType.ARRAY =>
      // Faithful mode: first-element-only inference, empty array ->
      // array<string> (ExpandJson.java:219-222), heterogeneous arrays
      // deliberately mis-schematized exactly like the reference.
      // Unified mode: mergeTypes fold over all elements (see overload doc).
      val it = node.elements()
      val elemType =
        if (!it.hasNext) StringType
        else if (unifyArrayElements)
          it.asScala.map(inferDataType(_, unifyArrayElements = true))
            .reduce(mergeTypes)
        else inferDataType(it.next(), unifyArrayElements = false)
      ArrayType(elemType, containsNull = true)
    case JsonNodeType.OBJECT =>
      val fields = node.fields().asScala.map { e =>
        StructField(e.getKey, inferDataType(e.getValue, unifyArrayElements),
          nullable = true)
      }.toArray
      StructType(fields)
    case JsonNodeType.STRING => StringType
    case other => // BINARY / MISSING / POJO: unreachable from JSON text
      throw new IllegalArgumentException(s"Cannot infer schema for JSON node type $other")
  }

  def inferDataType(json: String): DataType = inferDataType(parse(json))

  /**
   * Widening merge for multi-record batch inference (Merge mode).
   * Never narrows: identical -> same; int32|int64 -> int64; any int|double
   * -> double; struct|struct -> union of fields in first-seen order;
   * array|array -> array of merged element; anything|string -> string
   * (from_json renders a non-string JSON value into a string field as its
   * raw JSON text, so string is the universal fallback — and also where the
   * reference sends JSON null/BigInteger/BigDecimal already).
   */
  def mergeTypes(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y                    => x
    case (IntegerType, LongType)             => LongType
    case (LongType, IntegerType)             => LongType
    case (IntegerType, DoubleType)           => DoubleType
    case (DoubleType, IntegerType)           => DoubleType
    case (LongType, DoubleType)              => DoubleType
    case (DoubleType, LongType)              => DoubleType
    case (ArrayType(ea, _), ArrayType(eb, _)) =>
      ArrayType(mergeTypes(ea, eb), containsNull = true)
    case (sa: StructType, sb: StructType) =>
      val order = mutable.LinkedHashMap.empty[String, DataType]
      sa.fields.foreach(f => order(f.name) = f.dataType)
      sb.fields.foreach { f =>
        order(f.name) = order.get(f.name).map(mergeTypes(_, f.dataType)).getOrElse(f.dataType)
      }
      StructType(order.map { case (n, t) => StructField(n, t, nullable = true) }.toArray)
    case _ => StringType
  }

  /** Infer one schema from a sample of JSON documents. FirstRow mode uses
    * only the first document (reference cache semantics); Merge widens
    * across all of them. Returns None for an empty sample. */
  def inferFromSample(sample: Iterable[String], mode: Mode = Merge,
      unifyArrayElements: Boolean = false): Option[DataType] = {
    val it = sample.iterator.filter(_ != null)
    if (!it.hasNext) return None
    def one(json: String): DataType = inferDataType(parse(json), unifyArrayElements)
    mode match {
      case FirstRow => Some(one(it.next()))
      case Merge    => Some(it.map(one).reduce(mergeTypes))
    }
  }

  /**
   * The engine's one inference sampler (ExpandJson, and through it
   * `inferThenExpand`; JsonLines). In one job it takes the first n
   * non-null values of each of the first min(n, p) partitions (n = 1,024
   * under Merge, 1 under FirstRow: the first record wins), infers them and
   * folds them with [[mergeTypes]] inside the task; the driver folds the
   * per-partition types in partition order. `mergeTypes` is associative
   * (field order included), so the result is exactly [[inferFromSample]]
   * over the per-partition prefixes concatenated in partition order. A
   * `limit(n)` sample is a prefix of that sequence, so this schema is never
   * narrower; unlike a `limit`, it sees every partition's first rows even
   * when partition 0 alone holds n rows — a Kafka topic's partitions are
   * independent logs.
   *
   * When no sampled partition yields a type, the following partitions are
   * read in order, four times as many per job, as `limit` scales up, so
   * FirstRow over a frame whose leading partitions are empty still takes
   * the first non-null value. With `skipMalformed` (the PERMISSIVE
   * callers) a value that does not parse is left out of the sample — it
   * becomes a null row when the parse runs; otherwise it fails the job.
   */
  def infer(values: RDD[String], mode: Mode = Merge, unifyArrayElements: Boolean = false,
      skipMalformed: Boolean = false): Option[DataType] = {
    val n = if (mode == FirstRow) 1 else 1024
    val fold = (it: Iterator[String]) =>
      it.filter(_ != null).take(n).flatMap { json =>
        try Some(inferDataType(parse(json), unifyArrayElements))
        catch {
          // An empty line parses to a MissingNode, which inferDataType rejects.
          case _: JsonProcessingException | _: IllegalArgumentException if skipMalformed => None
        }
      }.reduceOption(mergeTypes)
    val p = values.getNumPartitions
    var from = 0
    var width = math.min(n, p)
    while (from < p) {
      val until = math.min(from + width, p)
      val types = values.sparkContext.runJob(values, fold, from until until).flatten
      if (types.nonEmpty) return Some(mode match {
        case FirstRow => types.head
        case Merge    => types.reduce(mergeTypes)
      })
      from = until
      width *= 4
    }
    None
  }

  // ---------------------------------------------------------------------
  // Schema naming (reference: ExpandJson.java:233-245 + docstring :55-59)
  // ---------------------------------------------------------------------

  /**
   * Assign generated schema names to every struct in `dt`, replicating the
   * reference's algorithm: depth-first, names assigned on the way out
   * ("bottom up" — the innermost struct gets the bare prefix), one name per
   * distinct field list (structurally identical structs share), counter
   * producing `prefix`, `prefix2`, `prefix3`, ... with no "1" suffix
   * (mimicking Confluent AvroData, comment at ExpandJson.java:236-237).
   *
   * Spark `StructType` carries no name, so the name is attached as metadata
   * on the *enclosing* `StructField` (`connect.schema.name`; for an array
   * whose element is a named struct, `connect.element.schema.name`). The
   * root struct's own name is returned alongside the rewritten type.
   *
   * Naming state can be shared across multiple inferences via `state` —
   * mirroring the reference accumulating `generatedSchemaNames` across
   * records of one transform instance (ExpandJson.java:70, 80).
   */
  final class NamingState(val prefix: String) {
    private[schema] val names = mutable.LinkedHashMap.empty[Seq[StructField], String]
    private[schema] var index = 0
    private[schema] def nameFor(fields: Seq[StructField]): String =
      names.getOrElseUpdate(fields, {
        index += 1
        if (index > 1) s"$prefix$index" else prefix
      })
  }

  /** Returns (type with name metadata attached, root struct name if any). */
  def assignSchemaNames(dt: DataType, state: NamingState): (DataType, Option[String]) = {
    def walk(t: DataType): (DataType, Option[String]) = t match {
      case st: StructType =>
        val named = st.fields.map { f =>
          val (childType, childName) = walk(f.dataType)
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          childName.foreach { n =>
            f.dataType match {
              case _: StructType => mb.putString(SchemaNameKey, n)
              case _: ArrayType  => mb.putString(ElementSchemaNameKey, n)
              case _             => ()
            }
          }
          StructField(f.name, childType, f.nullable, mb.build())
        }
        // Name is assigned AFTER children (post-order = "bottom up"), keyed
        // on the final named field list so structurally identical structs
        // (including identical nested names) share one generated name.
        val name = state.nameFor(named.toSeq)
        (StructType(named), Some(name))
      case ArrayType(et, n) =>
        val (childType, childName) = walk(et)
        (ArrayType(childType, n), childName)
      case other => (other, None)
    }
    walk(dt)
  }

  def assignSchemaNames(dt: DataType, prefix: String): (DataType, Option[String]) =
    assignSchemaNames(dt, new NamingState(prefix))
}
