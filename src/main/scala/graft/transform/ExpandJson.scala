package graft.transform

import graft.schema.JsonSchemaInference
import graft.schema.JsonSchemaInference.{Merge, Mode, NamingState}
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * ExpandJson — the engine's core operator, the Spark-native re-expression of
 * the reference Kafka Connect SMT (reference: ExpandJson.java:32-321).
 *
 * Parses JSON text held in string columns and replaces it, in place, with
 * properly typed nested structures. Two modes mirroring the reference:
 *
 *  - '''whole-value''' (schemaless path, ExpandJson.java:94-104): the
 *    designated column IS the record payload; it is replaced by the parsed
 *    value — a struct for JSON objects, or a correctly typed scalar for bare
 *    JSON scalars ("\"key\"" -> string "key", 42 -> int 42).
 *  - '''per-field''' (with-schema path, ExpandJson.java:106-129): each listed
 *    column is replaced by its parsed struct; all sibling columns pass
 *    through untouched, column order preserved. Dotted names descend
 *    through struct fields (`a.b` parses field `b` inside struct `a`,
 *    rebuilding the struct in place with sibling order intact) AND
 *    transparently through arrays of structs (`events.payload` parses the
 *    field in every element of every row's array — one `transform`-mapped
 *    parse expression, no explode/re-group round trip) — extensions past
 *    the reference's root-level-only contract (its open TODO,
 *    ExpandJson.java:42-44); a literal root column named "a.b" still
 *    wins.
 *  - '''whole-value variant''' (`variantMode`): the faithful analogue of the
 *    reference's per-record inference — the schemaless path has NO schema
 *    cache, every record is inferred independently (ExpandJson.java:100-101).
 *    Spark 4's `VariantType` carries a self-describing typed value per row
 *    (`parse_json`), so heterogeneous records coexist in one column; fields
 *    are extracted with `variant_get`. Use when row shapes genuinely drift;
 *    the plan-time-schema modes stay the fast path for uniform data.
 *
 * Schema determination: Spark needs one schema per column per plan, which is
 * already the reference's de-facto semantics — its 16-entry schema cache
 * makes the first record's inferred schema stick (ExpandJson.java:132-134).
 * Here the schema comes from (in priority order): a user override (the
 * production path at 100 TB — zero inference cost), or a plan-time
 * inference pass over a bounded sample (`FirstRow` mode replicates
 * first-record-wins exactly; `Merge` widens across the sample).
 *
 * Scale notes: the inference sample is one job over the first rows of
 * every partition ([[JsonSchemaInference.infer]]: the first 1,024 non-null
 * values of each of the first 1,024 partitions under `Merge`, the first
 * value under `FirstRow`), never a full scan, so a field that only a later
 * Kafka partition or file split carries is still seen. The limit that
 * remains: a value behind 1,024 others in its split is unseen (a small
 * file that Spark packs behind a large one into one split, say).
 * Exhaustive inference is out of scope; pass `schemaOverrides` instead.
 * The parse itself is a single `Project` of built-in `from_json` (Catalyst
 * `JsonToStructs`): narrow, whole-stage-codegen'd, no shuffle, and
 * Catalyst's `OptimizeJsonExprs` prunes unused struct subfields from the
 * parse.
 *
 * Error model (reference §2.3): conflicting mode/fields config throws at
 * build time; malformed JSON throws at execution (FAILFAST, matching the
 * reference's DataException at ExpandJson.java:169-170), or at build time
 * when the inference sample holds it, unless `permissive = true` (null row
 * instead; a malformed sampled value is left out of the inference). One
 * deliberate divergence: a null target value is passed through as null
 * rather than NPE-ing (ExpandJson.java:168).
 */
final case class ExpandJson(
    fields: Seq[String] = Nil,
    wholeColumn: Option[String] = None,
    schemaNamePrefix: Option[String] = None,
    inferenceMode: Mode = Merge,
    permissive: Boolean = false,
    schemaOverrides: Map[String, DataType] = Map.empty,
    variantMode: Boolean = false,
    // Extension (SURVEY §1.2 note): Spark-native type-unified array
    // inference ([1,"a"] -> array<string> via the mergeTypes fold) instead
    // of the reference's faithful first-element rule. Default OFF — the
    // faithful rule is the commission; this is for union-typed producers.
    unifyArrayElements: Boolean = false
) extends (DataFrame => DataFrame) {

  require(!variantMode || fields.isEmpty,
    "variantMode is a whole-value mode (the reference's per-record schemaless path)")

  private def jsonOptions: Map[String, String] =
    Map("mode" -> (if (permissive) "PERMISSIVE" else "FAILFAST"))

  override def apply(df: DataFrame): DataFrame = wholeColumn match {
    case Some(colName) =>
      // Schemaless path guard (ExpandJson.java:95-98)
      if (fields.nonEmpty)
        throw new IllegalArgumentException(
          "Expanding specific fields is not supported in whole-value mode. " +
            "Transform the entire value, or use per-field mode on a schematized frame.")
      if (variantMode) {
        // Per-record inference with no cache: parse_json gives each row its
        // own self-describing typed value. FAILFAST <-> parse_json throwing
        // on malformed input; permissive <-> try_parse_json yielding null.
        // Dotted names descend like per-field mode (withColumn would
        // otherwise CREATE a literal-named top-level column, silently).
        def parsed(c: Column) =
          if (permissive) try_parse_json(c.cast(StringType)) else parse_json(c.cast(StringType))
        // Single-target descent through the SAME rewriteIn/transform
        // machinery expand() uses (structs rebuild in place, array-of-
        // struct levels map over their elements) — resolves() is array-
        // transparent, so a bare withField here would accept an array-
        // crossing path it cannot rewrite and die later with a raw
        // AnalysisException. Keep the two branches in step if descent
        // semantics change.
        val parts = colName.split('.').toSeq
        if (df.schema.fieldNames.contains(colName))
          df.withColumn(colName, parsed(rootCol(colName)))
        else if (resolves(df.schema, parts)) {
          def over(d: DataType, cc: Column): Column = d match {
            case rootSt: StructType => rewriteIn(cc, rootSt, parts.tail, leaf => parsed(leaf))
            case ArrayType(et, _)   => transform(cc, x => over(et, x))
            case other => throw new IllegalArgumentException(
              s"Cannot descend through $other at '${parts.head}'")
          }
          df.withColumn(parts.head, over(df.schema(parts.head).dataType, rootCol(parts.head)))
        } else
          throw new IllegalArgumentException(
            s"Target field not found: $colName (have: ${df.schema.fieldNames.mkString(", ")}; " +
              "dotted names descend through struct fields)")
      } else expand(df, Seq(colName), allowScalar = true)
    case None =>
      // With-schema path guard (ExpandJson.java:107-110)
      if (fields.isEmpty)
        throw new IllegalArgumentException(
          "Expanding the entire value is not supported in per-field mode. " +
            "List one or more fields, or use whole-value mode.")
      expand(df, fields, allowScalar = false)
  }

  /** Does `parts` resolve to a field by walking struct nesting? Root-level
    * names always resolve as themselves first (a literal column named
    * "a.b" keeps the reference's root-level semantics; only otherwise are
    * dots read as struct descent — the extension past the reference's
    * root-level-only contract, its open TODO at ExpandJson.java:42-44).
    * Matching is EXACT (case-sensitive) at every level, regardless of
    * spark.sql.caseSensitive — deliberate reference parity: the SMT's
    * `Struct.get(field)` lookup is case-sensitive, so a config that
    * names fields by the wrong case fails fast here exactly as it would
    * in the Connect pipeline (the divergence from Spark's default
    * case-insensitive resolution is fail-safe: a throw, never a miss). */
  private def resolves(schema: StructType, parts: Seq[String]): Boolean = parts match {
    case Seq(last) => schema.fieldNames.contains(last)
    case head +: rest =>
      schema.fields.find(_.name == head).exists(f => elementStruct(f.dataType) match {
        case Some(st) => resolves(st, rest)
        case None     => false
      })
    case _ => false
  }

  /** The struct a path segment descends INTO: a struct itself, or the
    * element struct of (arbitrarily nested) arrays of structs — array
    * levels are transparent to dotted paths; the rewrite maps over them
    * with `transform`, so one parse expression serves every element of
    * every row's array. */
  private def elementStruct(dt: DataType): Option[StructType] = dt match {
    case st: StructType   => Some(st)
    case ArrayType(et, _) => elementStruct(et)
    case _                => None
  }

  /** Rewrite the leaf at `parts` inside the struct-typed `parent` column,
    * applying `mk` to the leaf: structs rebuild in place (`withField`,
    * sibling order kept), arrays of structs map over their elements. */
  private def rewriteIn(
      parent: Column, st: StructType, parts: Seq[String], mk: Column => Column): Column =
    parts match {
      case Seq(last) => parent.withField(last, mk(parent.getField(last)))
      case head +: rest =>
        def into(dt: DataType, c: Column): Column = dt match {
          case child: StructType => rewriteIn(c, child, rest, mk)
          case ArrayType(et, _)  => transform(c, x => into(et, x))
          case other => throw new IllegalArgumentException(
            s"Cannot descend through $other at '$head'")
        }
        parent.withField(head, into(st(head).dataType, parent.getField(head)))
      case _ => throw new IllegalArgumentException("empty path")
    }

  /** Number of array levels a resolved path crosses (flattening count for
    * the inference sample). */
  private def arrayDepth(schema: StructType, parts: Seq[String]): Int = parts match {
    case Seq(_) => 0
    case head +: rest =>
      def depth(d: DataType): Int = d match {
        case ArrayType(et, _) => 1 + depth(et)
        case _                => 0
      }
      val dt = schema(head).dataType
      depth(dt) + arrayDepth(elementStruct(dt).get, rest)
    case _ => 0
  }

  /** Root-level column reference by LITERAL name (backtick-quoted so a
    * name containing dots is not parsed as struct descent). */
  private def rootCol(name: String): Column = col(s"`${name.replace("`", "``")}`")

  private def expand(df: DataFrame, targets: Seq[String], allowScalar: Boolean): DataFrame = {
    val present = df.schema.fieldNames.toSet
    // Literal root-level column first; otherwise a dotted struct path.
    val (rootTargets, nested) = targets.partition(present)
    val missing = nested.filterNot(t => resolves(df.schema, t.split('.').toSeq))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Target field(s) not found: ${missing.mkString(", ")} (have: ${present.mkString(", ")}; " +
          "dotted names descend through struct fields)")

    // One naming state shared across all target fields, mirroring the
    // reference's per-instance accumulation (ExpandJson.java:70, 80).
    val naming = schemaNamePrefix.filter(_.trim.nonEmpty).map(new NamingState(_))

    val resolved: Map[String, (DataType, Option[String])] = targets.map { t =>
      val source =
        if (present(t)) rootCol(t)
        else {
          // A path crossing k array levels resolves to a k-nested array
          // of strings: flatten k-1 levels, then explode once, so the
          // inference sample rows are the leaf strings themselves.
          val k = arrayDepth(df.schema, t.split('.').toSeq)
          if (k == 0) col(t)
          else explode((1 until k).foldLeft(col(t))((c, _) => flatten(c)))
        }
      val raw = schemaOverrides.getOrElse(t, inferColumn(df, source, t))
      val (named, rootName) = naming match {
        case Some(st) => JsonSchemaInference.assignSchemaNames(raw, st)
        case None     => (raw, None)
      }
      t -> (named, rootName)
    }.toMap

    def nameKey(dt: DataType): Option[String] = dt match {
      case _: StructType => Some(JsonSchemaInference.SchemaNameKey)
      case _: ArrayType  => Some(JsonSchemaInference.ElementSchemaNameKey)
      case _             => None
    }

    val nestedByRoot: Map[String, Seq[String]] = nested.groupBy(_.split('.').head)

    val outCols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      if (rootTargets.contains(f.name)) {
        val (dt, rootName) = resolved(f.name)
        val parsed = parseColumn(rootCol(f.name).cast(StringType), dt, allowScalar, f.name)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        rootName.foreach(n => nameKey(dt).foreach(k => mb.putString(k, n)))
        parsed.as(f.name, mb.build())
      } else if (nestedByRoot.contains(f.name)) {
        // Rewrite INSIDE the container: structs rebuild in place via
        // withField (sibling fields and order preserved — the reference's
        // sibling-preservation contract, one level down); array-of-struct
        // levels map over their elements via transform. A null ancestor
        // (struct or array) stays null; an empty array stays empty.
        // Generated schema names ride the ROOT ancestor field's metadata
        // under a path-qualified key
        // ("connect.schema.name.<relative.path>"): nested StructField
        // metadata does not survive Column-level struct rebuilds.
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        val rebuilt = nestedByRoot(f.name).foldLeft(rootCol(f.name)) { (c, t) =>
          val rel = t.split('.').drop(1).toSeq
          val (dt, rootName) = resolved(t)
          rootName.foreach(n =>
            nameKey(dt).foreach(k => mb.putString(s"$k.${rel.mkString(".")}", n)))
          def over(d: DataType, cc: Column): Column = d match {
            case rootSt: StructType =>
              rewriteIn(cc, rootSt, rel,
                leaf => parseColumn(leaf.cast(StringType), dt, allowScalar, t))
            case ArrayType(et, _) => transform(cc, x => over(et, x))
            case other => throw new IllegalArgumentException(
              s"Cannot descend through $other at '${f.name}'")
          }
          over(f.dataType, c)
        }
        rebuilt.as(f.name, mb.build())
      } else rootCol(f.name)
    }
    df.select(outCols: _*)
  }

  /** Plan-time inference over the first rows of the column's partitions
    * ([[JsonSchemaInference.infer]]). */
  private def inferColumn(df: DataFrame, source: Column, name: String): DataType = {
    if (df.isStreaming)
      throw new IllegalArgumentException(
        s"Cannot infer a schema for column '$name' on a streaming DataFrame; " +
          "pass schemaOverrides, or infer per-microbatch via ExpandJsonStreaming.")
    // Two projections: `source` may be a generator (explode over an
    // array-crossing path), which must sit at the top level of its own
    // select — the cast rides a second one.
    val values = df.select(source.as("__leaf"))
      .select(col("__leaf").cast(StringType)).as(Encoders.STRING).rdd
    JsonSchemaInference.infer(values, inferenceMode, unifyArrayElements,
      skipMalformed = permissive).getOrElse(
      throw new IllegalArgumentException(
        s"Cannot infer a schema for column '$name': no non-null rows in sample"))
  }

  /** Build the parse expression. Structs/arrays go through built-in
    * `from_json`; bare scalars (whole-value mode only, reference
    * ExpandJsonTest.java:105-155) use `get_json_object`/cast since
    * `from_json` only accepts struct/array/map types. */
  private def parseColumn(c: Column, dt: DataType, allowScalar: Boolean, name: String): Column =
    dt match {
      // Built directly as the Catalyst JsonToStructs expression (what
      // `from_json` resolves to) rather than through `functions.from_json`:
      // the function API round-trips the schema through DDL text, which
      // strips the nested StructField metadata carrying schema names.
      case _: StructType | _: ArrayType =>
        GraftColumnBridge.column(
          JsonToStructs(dt, jsonOptions, GraftColumnBridge.expression(c)))
      case _ if !allowScalar =>
        throw new IllegalArgumentException(
          s"Field '$name' inferred as non-struct ($dt) in per-field mode")
      case StringType =>
        // '$' extracts the root; a quoted JSON string is returned unquoted,
        // a bare number/bool as its literal text, JSON null as SQL null.
        get_json_object(c, "$")
      case t => get_json_object(c, "$").cast(t)
    }
}

object ExpandJson {
  /** Whole-value expansion of one column (the schemaless path). */
  def whole(column: String,
            schemaNamePrefix: Option[String] = None,
            inferenceMode: Mode = Merge,
            permissive: Boolean = false,
            schemaOverride: Option[DataType] = None): ExpandJson =
    ExpandJson(Nil, Some(column), schemaNamePrefix, inferenceMode, permissive,
      schemaOverride.map(column -> _).toMap)

  /** Per-field expansion of root-level columns (the with-schema path). */
  def onFields(fields: Seq[String],
               schemaNamePrefix: Option[String] = None,
               inferenceMode: Mode = Merge,
               permissive: Boolean = false,
               schemaOverrides: Map[String, DataType] = Map.empty): ExpandJson =
    ExpandJson(fields, None, schemaNamePrefix, inferenceMode, permissive, schemaOverrides)

  /** Whole-value expansion into a per-record `VariantType` — the reference's
    * cache-free per-record inference (ExpandJson.java:100-101) made exact:
    * heterogeneous row shapes each carry their own type. */
  def wholeVariant(column: String, permissive: Boolean = false): ExpandJson =
    ExpandJson(Nil, Some(column), permissive = permissive, variantMode = true)

  /** Kafka-shaped frames: expand the `key` / `value` binary column
    * (reference Key/Value variants, ExpandJson.java:277-319). */
  def key(schemaOverride: Option[DataType] = None): ExpandJson =
    whole("key", schemaOverride = schemaOverride)
  def value(schemaOverride: Option[DataType] = None): ExpandJson =
    whole("value", schemaOverride = schemaOverride)

  /** Build the transform from the reference SMT's own property surface
    * (ExpandJson.java:47-58: `fields` — a comma-separated list of
    * root-level field names, absent/empty meaning whole-value mode — and
    * `schema.name.prefix`), so a connector config migrates verbatim.
    * `target` plays the Key/Value subclass role: in whole-value mode it
    * names the column to expand; in fields mode the listed names are the
    * frame's columns — root-level exactly as the reference, plus dotted
    * struct descent (closing the reference's nested-field TODO,
    * ExpandJson.java:42-44). */
  def fromConfig(props: Map[String, String], target: String = "value"): ExpandJson = {
    val fields = props.get("fields").toSeq
      .flatMap(_.split(",", -1)).map(_.trim).filter(_.nonEmpty)
    val prefix = props.get("schema.name.prefix").map(_.trim).filter(_.nonEmpty)
    // Extension property (not in the reference's surface): opt into the
    // type-unified array inference. Faithful first-element inference is
    // the default, so an unmodified connector config behaves verbatim.
    val unify = props.get("unify.array.elements")
      .exists(_.trim.equalsIgnoreCase("true"))
    val base =
      if (fields.isEmpty) whole(target, schemaNamePrefix = prefix)
      else onFields(fields, schemaNamePrefix = prefix)
    base.copy(unifyArrayElements = unify)
  }
}
