package graft

import graft.schema.JsonSchemaInference
import graft.transform.ExpandJson
import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}

/** DataFrame-level port of the reference's 10 unit tests
  * (ExpandJsonTest.java) plus the coverage gaps listed in SURVEY.md §5. */
class ExpandJsonSpec extends SparkSpec {
  import spark.implicits._

  private val SIMPLE_JSON =
    """{"stringValue": "String value", "numberValue": 42, "booleanValue": true}"""

  // wholeRecordValueSchemaless (ExpandJsonTest.java:91-103)
  test("whole-value: JSON object -> typed struct, int32 numbers") {
    val df = Seq(SIMPLE_JSON).toDF("value")
    val out = df.transform(ExpandJson.whole("value"))
    val f = out.schema("value")
    assert(f.dataType === StructType(Seq(
      StructField("stringValue", StringType),
      StructField("numberValue", IntegerType),
      StructField("booleanValue", BooleanType))))
    assert(out.collect().head.getStruct(0) === Row("String value", 42, true))
  }

  // wholeRecordKeySchemaless analog: key column of a Kafka-shaped frame
  test("whole-value on key column; value side untouched") {
    val df = Seq((SIMPLE_JSON, "untouched")).toDF("key", "value")
    val out = df.transform(ExpandJson.key())
    assert(out.columns.toSeq === Seq("key", "value"))
    assert(out.schema("key").dataType.isInstanceOf[StructType])
    assert(out.schema("value").dataType === StringType)
    assert(out.collect().head.getString(1) === "untouched")
  }

  // primitiveStringKey/ValueSchemaless (ExpandJsonTest.java:105-129)
  test("whole-value: bare JSON string -> unquoted string") {
    val out = Seq("\"key\"").toDF("value").transform(ExpandJson.whole("value"))
    assert(out.schema("value").dataType === StringType)
    assert(out.collect().head.getString(0) === "key")
  }

  // primitiveIntKey/ValueSchemaless (ExpandJsonTest.java:131-155)
  test("whole-value: bare JSON int -> int32") {
    val out = Seq("42", "24").toDF("value").transform(ExpandJson.whole("value"))
    assert(out.schema("value").dataType === IntegerType)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq === Seq(24, 42))
  }

  // wholeRecordKeySchemalessFailsFieldsConfig (ExpandJsonTest.java:157-163)
  test("whole-value + fields config -> error at build") {
    val df = Seq(SIMPLE_JSON).toDF("value")
    val e = intercept[IllegalArgumentException] {
      ExpandJson(fields = Seq("foo"), wholeColumn = Some("value"))(df)
    }
    assert(e.getMessage.contains("not supported"))
  }

  // applyWithSchema empty-fields guard (ExpandJson.java:107-110)
  test("per-field mode with empty fields -> error at build") {
    val df = Seq(SIMPLE_JSON).toDF("value")
    intercept[IllegalArgumentException] { ExpandJson()(df) }
  }

  // keySchemaField / valueSchemaField (ExpandJsonTest.java:165-190)
  test("per-field: target replaced in place, siblings and order preserved") {
    val df = Seq((SIMPLE_JSON, 42, true)).toDF("jsonValue", "numberValue", "booleanValue")
    val out = df.transform(ExpandJson.onFields(Seq("jsonValue")))
    assert(out.columns.toSeq === Seq("jsonValue", "numberValue", "booleanValue"))
    assert(out.schema("jsonValue").dataType === StructType(Seq(
      StructField("stringValue", StringType),
      StructField("numberValue", IntegerType),
      StructField("booleanValue", BooleanType))))
    assert(out.schema("numberValue").dataType === IntegerType)
    val r = out.collect().head
    assert(r.getStruct(0) === Row("String value", 42, true))
    assert(r.getInt(1) === 42)
    assert(r.getBoolean(2) === true)
  }

  test("nested target: struct rebuilt in place, siblings and order preserved") {
    import org.apache.spark.sql.functions.{col, struct}
    val df = Seq(("e1", "click", SIMPLE_JSON)).toDF("id", "etype", "payload")
      .select(col("id"), struct(col("etype"), col("payload")).as("env"))
    val out = df.transform(ExpandJson.onFields(Seq("env.payload")))
    assert(out.columns.toSeq === Seq("id", "env"))
    val env = out.schema("env").dataType.asInstanceOf[StructType]
    assert(env.fieldNames.toSeq === Seq("etype", "payload"), "sibling order inside the struct")
    assert(env("etype").dataType === StringType)
    assert(env("payload").dataType === StructType(Seq(
      StructField("stringValue", StringType),
      StructField("numberValue", IntegerType),
      StructField("booleanValue", BooleanType))))
    val r = out.collect().head.getStruct(1)
    assert(r.getString(0) === "click")
    assert(r.getStruct(1) === Row("String value", 42, true))
  }

  test("nested targets: TWO JSON fields under one root struct, both rebuilt in place") {
    import org.apache.spark.sql.functions.{col, struct}
    val df = Seq(("e1", """{"k": 1}""", """{"v": "x"}""", 9))
      .toDF("id", "a", "b", "keep")
      .select(col("id"), struct(col("a"), col("keep"), col("b")).as("env"))
    val out = df.transform(ExpandJson.onFields(Seq("env.a", "env.b")))
    val env = out.schema("env").dataType.asInstanceOf[StructType]
    assert(env.fieldNames.toSeq === Seq("a", "keep", "b"), "sibling order preserved")
    assert(env("a").dataType === StructType(Seq(StructField("k", IntegerType))))
    assert(env("keep").dataType === IntegerType)
    assert(env("b").dataType === StructType(Seq(StructField("v", StringType))))
    val r = out.collect().head.getStruct(1)
    assert(r.getStruct(0) === Row(1) && r.getInt(1) === 9 && r.getStruct(2) === Row("x"))
  }

  test("array descent: JSON field inside array<struct> parses per element, siblings kept") {
    import org.apache.spark.sql.functions.{col, struct, array}
    val df = Seq(("u1", 11, """{"k": 1}""", 12, """{"k": 2}"""))
      .toDF("id", "e1", "p1", "e2", "p2")
      .select(col("id"), array(
        struct(col("e1").as("eid"), col("p1").as("payload")),
        struct(col("e2").as("eid"), col("p2").as("payload"))).as("events"))
    val out = df.transform(ExpandJson.onFields(Seq("events.payload")))
    val et = out.schema("events").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(et.fieldNames.toSeq === Seq("eid", "payload"), "element sibling order")
    assert(et("payload").dataType === StructType(Seq(StructField("k", IntegerType))))
    val evs = out.collect().head.getSeq[Row](1)
    assert(evs.map(e => (e.getInt(0), e.getStruct(1).getInt(0))) === Seq((11, 1), (12, 2)))
  }

  test("array descent: inference merges across elements; empty and null arrays pass through") {
    import org.apache.spark.sql.functions.{col, struct, array, lit, when}
    // Row 1: two elements with drifting shapes (k int vs k long) -> merged
    // long. Row 2: empty array. Row 3: null array.
    val df = Seq(
      ("a", Seq("""{"k": 1}""", """{"k": 5000000000}"""), false),
      ("b", Seq.empty[String], false),
      ("c", Seq.empty[String], true))
      .toDF("id", "ps", "nul")
      .select(col("id"),
        when(!col("nul"),
          org.apache.spark.sql.functions.transform(col("ps"), p => struct(p.as("payload"))))
          .as("events"))
    val out = df.transform(ExpandJson.onFields(Seq("events.payload")))
    val et = out.schema("events").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(et("payload").dataType === StructType(Seq(StructField("k", LongType))))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("a").getSeq[Row](1).map(_.getStruct(0).getLong(0)) === Seq(1L, 5000000000L))
    assert(rows("b").getSeq[Row](1).isEmpty, "empty array stays empty")
    assert(rows("c").isNullAt(1), "null array stays null")
  }

  test("nested target: two levels down; null ancestor struct passes through as null") {
    import org.apache.spark.sql.functions.{col, struct, when, lit}
    val df = Seq(("a", SIMPLE_JSON, true), ("b", SIMPLE_JSON, false))
      .toDF("id", "payload", "keep")
      .select(col("id"),
        when(col("keep"), struct(struct(col("payload")).as("inner")).as("outer"))
          .otherwise(lit(null)).as("outer"))
    val out = df.transform(ExpandJson.onFields(Seq("outer.inner.payload")))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("a").getStruct(1).getStruct(0).getStruct(0).getInt(1) === 42)
    assert(rows("b").isNullAt(1), "null ancestor stays null, no NPE")
  }

  test("nested target: a literal root column named 'a.b' wins over struct descent") {
    import org.apache.spark.sql.functions.col
    val df = Seq(SIMPLE_JSON).toDF("a.b")
    val out = df.transform(ExpandJson.onFields(Seq("a.b")))
    assert(out.schema.fields.head.dataType.isInstanceOf[StructType])
    assert(out.select(col("`a.b`.numberValue")).collect().head.getInt(0) === 42)
  }

  test("nested target: dotted path through a non-struct -> error") {
    val df = Seq(SIMPLE_JSON).toDF("value")
    val e = intercept[IllegalArgumentException] {
      df.transform(ExpandJson.onFields(Seq("value.inner")))
    }
    assert(e.getMessage.contains("value.inner"))
  }

  test("nested target: schema name rides the root ancestor under a path-qualified key") {
    import org.apache.spark.sql.functions.{col, struct}
    val df = Seq(("x", SIMPLE_JSON)).toDF("id", "payload")
      .select(col("id"), struct(col("payload")).as("env"))
    val out = df.transform(
      ExpandJson.onFields(Seq("env.payload"), schemaNamePrefix = Some("com.acme.Rec")))
    val md = out.schema("env").metadata
    val key = s"${JsonSchemaInference.SchemaNameKey}.payload"
    assert(md.contains(key), out.schema("env").metadata.json)
    assert(md.getString(key) === "com.acme.Rec")
  }

  test("Avro schema reconstructs from ExpandJson output metadata (SURVEY 1.3 loop closed)") {
    val out = Seq(SIMPLE_JSON).toDF("value")
      .transform(ExpandJson.whole("value", schemaNamePrefix = Some("com.acme.Env")))
    val avro = graft.schema.AvroSchema.forField(out.schema("value"))
    val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(avro).get(1)
    assert(rec.get("type").asText() == "record")
    assert(rec.get("name").asText() == "com.acme.Env")
    assert(rec.get("fields").size() == 3)
  }

  test("AvroSchema.forPath closes the Avro loop for a nested expand target") {
    import org.apache.spark.sql.functions.{col, struct}
    // Inner object -> the leaf's OWN nested record names survive the
    // Column-level rebuild (they live inside the parse expression's
    // DataType); only the leaf's root name needs the path-qualified key.
    val j = """{"a": {"b": 1}, "s": "x"}"""
    val df = Seq(("x", j)).toDF("id", "payload")
      .select(col("id"), struct(col("payload")).as("env"))
    val out = df.transform(
      ExpandJson.onFields(Seq("env.payload"), schemaNamePrefix = Some("com.acme.R")))
    val avro = graft.schema.AvroSchema.forPath(out.schema("env"), "payload")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(avro)
    val rec = if (node.isArray) node.get(1) else node
    assert(rec.get("type").asText() == "record")
    // Bottom-up counter (reference parity): the DEEPEST record takes the
    // bare prefix, the leaf root gets the next number.
    assert(rec.get("name").asText() == "com.acme.R2", avro)
    val fields = rec.get("fields")
    assert(fields.size() == 2)
    val inner = fields.get(0).get("type").get(1) // nullable union -> [null, record]
    assert(inner.get("type").asText() == "record", avro)
    assert(inner.get("name").asText() == "com.acme.R", avro)
  }

  test("AvroSchema.forField on a nested-expand container points at forPath") {
    import org.apache.spark.sql.functions.{col, struct}
    val df = Seq(("x", SIMPLE_JSON)).toDF("id", "payload")
      .select(col("id"), struct(col("payload")).as("env"))
    val out = df.transform(
      ExpandJson.onFields(Seq("env.payload"), schemaNamePrefix = Some("com.acme.R")))
    val e = intercept[IllegalArgumentException](
      graft.schema.AvroSchema.forField(out.schema("env")))
    assert(e.getMessage.contains("forPath"), e.getMessage)
  }

  test("variant mode: nested dotted target rebuilds the struct; bogus path errors") {
    import org.apache.spark.sql.functions.{col, struct, variant_get}
    val df = Seq(("a", SIMPLE_JSON)).toDF("id", "payload")
      .select(col("id"), struct(col("payload")).as("env"))
    val out = df.transform(ExpandJson.wholeVariant("env.payload"))
    assert(out.columns.toSeq === Seq("id", "env"), "no literal-named column appears")
    val got = out.select(variant_get(col("env.payload"), "$.numberValue", "int"))
      .collect().head.getInt(0)
    assert(got === 42)
    val e = intercept[IllegalArgumentException] {
      df.transform(ExpandJson.wholeVariant("env.nope"))
    }
    assert(e.getMessage.contains("env.nope"))
  }

  test("per-field: missing target -> error") {
    val df = Seq(SIMPLE_JSON).toDF("value")
    val e = intercept[IllegalArgumentException] {
      df.transform(ExpandJson.onFields(Seq("nope")))
    }
    assert(e.getMessage.contains("nope"))
  }

  // testSchemaNamePrefix — the reference stub (ExpandJsonTest.java:192-200),
  // completed here per FIXTURES.md A4.
  test("schema.name.prefix carried as field metadata, bottom-up numbering") {
    val nested =
      """{"numberValue": 42, "level1": {"level2": {"level3Number": 24, "level3String": "foo"}}}"""
    val df = Seq(nested).toDF("value")
    val out = df.transform(ExpandJson.whole("value", schemaNamePrefix = Some("my.prefix.Rec")))
    val root = out.schema("value")
    assert(root.metadata.getString(JsonSchemaInference.SchemaNameKey) === "my.prefix.Rec3")
    val level1 = root.dataType.asInstanceOf[StructType]("level1")
    assert(level1.metadata.getString(JsonSchemaInference.SchemaNameKey) === "my.prefix.Rec2")
    val level2 = level1.dataType.asInstanceOf[StructType]("level2")
    assert(level2.metadata.getString(JsonSchemaInference.SchemaNameKey) === "my.prefix.Rec")
  }

  // ---- coverage gaps beyond the reference tests (SURVEY.md §5) ----

  test("merge mode widens across rows; missing fields null") {
    val df = Seq("""{"a": 1}""", """{"a": 99999999999, "b": "x"}""").toDF("value")
    val out = df.transform(ExpandJson.whole("value"))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st("a").dataType === LongType)
    assert(st("b").dataType === StringType)
    val rows = out.collect().map(_.getStruct(0))
    assert(rows.exists(r => r.getLong(0) == 1L && r.isNullAt(1)))
  }

  test("FirstRow mode replicates first-record-wins cache semantics") {
    val df = Seq("""{"a": 1}""", """{"a": 2, "b": "x"}""").toDF("value")
    val out = df.transform(
      ExpandJson.whole("value", inferenceMode = JsonSchemaInference.FirstRow))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq === Seq("a"))
  }

  test("empty array -> array<string>; heterogeneous array first-element") {
    val out = Seq("""{"e": [], "h": [1, 2]}""").toDF("value")
      .transform(ExpandJson.whole("value"))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st("e").dataType === ArrayType(StringType, true))
    assert(st("h").dataType === ArrayType(IntegerType, true))
  }

  test("null target value -> null passthrough (divergence from reference NPE)") {
    val df = Seq(Some(SIMPLE_JSON), None).toDF("value")
    val out = df.transform(ExpandJson.whole("value"))
    val rows = out.collect()
    assert(rows.count(_.isNullAt(0)) === 1)
  }

  test("malformed JSON: FAILFAST throws, permissive yields null") {
    val df = Seq(SIMPLE_JSON, """{"broken": """).toDF("value")
    intercept[SparkException] {
      // Sample sees valid row first so inference succeeds; parse then fails.
      df.transform(
        ExpandJson.whole("value", inferenceMode = JsonSchemaInference.FirstRow)).collect()
    }
    // PERMISSIVE from_json yields a struct of all-null fields (not a null
    // struct) for a corrupt record.
    val ok = df.transform(ExpandJson.whole("value",
      inferenceMode = JsonSchemaInference.FirstRow, permissive = true))
    val corrupt = ok.collect().count { r =>
      r.isNullAt(0) || { val s = r.getStruct(0); (0 until s.length).forall(s.isNullAt) }
    }
    assert(corrupt === 1)
  }

  test("schema override skips inference (streaming/production path)") {
    val schema = StructType(Seq(StructField("numberValue", LongType)))
    val out = Seq(SIMPLE_JSON).toDF("value")
      .transform(ExpandJson.whole("value", schemaOverride = Some(schema)))
    assert(out.schema("value").dataType === schema)
    assert(out.collect().head.getStruct(0).getLong(0) === 42L)
  }

  test("JSON null field -> string-typed null (ExpandJson.java:193-194)") {
    val out = Seq("""{"n": null, "x": 1}""").toDF("value")
      .transform(ExpandJson.whole("value"))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st("n").dataType === StringType)
    assert(out.collect().head.getStruct(0).isNullAt(0))
  }

  test("BigInteger and long values round-trip per the number ladder") {
    val out = Seq("""{"big": 9223372036854775808, "lng": 9999999999}""").toDF("value")
      .transform(ExpandJson.whole("value"))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st("big").dataType === StringType)
    assert(st("lng").dataType === LongType)
    val r = out.collect().head.getStruct(0)
    assert(r.getString(0) === "9223372036854775808")
    assert(r.getLong(1) === 9999999999L)
  }

  test("fromConfig: the reference SMT's property map migrates verbatim") {
    // Absent/empty `fields` -> whole-value mode on the target column.
    val whole = Seq(SIMPLE_JSON).toDF("value")
      .transform(ExpandJson.fromConfig(Map.empty))
    assert(whole.schema("value").dataType.isInstanceOf[StructType])
    // Comma-separated `fields` (with the whitespace a connector config
    // tolerates) -> per-field mode; siblings pass through untouched.
    val df = Seq(("""{"a": 1}""", """{"b": "x"}""", 7)).toDF("f1", "f2", "keep")
      .transform(ExpandJson.fromConfig(Map("fields" -> " f1, f2 ")))
    assert(df.schema("f1").dataType.isInstanceOf[StructType])
    assert(df.schema("f2").dataType.isInstanceOf[StructType])
    assert(df.schema("keep").dataType === IntegerType)
    // schema.name.prefix flows into the generated struct names.
    val named = Seq("""{"o": {"x": 1}}""").toDF("value")
      .transform(ExpandJson.fromConfig(Map("schema.name.prefix" -> "com.acme.Doc")))
    val meta = named.schema("value").dataType.asInstanceOf[StructType]
    assert(meta("o").metadata.getString(
      graft.schema.JsonSchemaInference.SchemaNameKey).startsWith("com.acme.Doc"))
  }

  test("schema-name metadata survives a parquet write -> read round-trip") {
    // §1.3's naming exists FOR sinks (a downstream consumer reads the
    // Connect schema name off the stored frame); prove the StructField
    // metadata actually lands in the parquet footer and comes back.
    val nested =
      """{"numberValue": 42, "level1": {"level2": {"level3Number": 24}}, "items": [{"q": 1}]}"""
    val out = Seq(nested).toDF("value")
      .transform(ExpandJson.whole("value", schemaNamePrefix = Some("my.prefix.Rec")))
    val dir = java.nio.file.Files.createTempDirectory("ej_meta_rt").toString
    try {
      out.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      // Bottom-up numbering: level2 -> Rec, level1 -> Rec2, items element
      // -> Rec3, root -> Rec4.
      val root = back.schema("value")
      assert(root.metadata.getString(JsonSchemaInference.SchemaNameKey) === "my.prefix.Rec4")
      val st = root.dataType.asInstanceOf[StructType]
      assert(st("level1").metadata.getString(JsonSchemaInference.SchemaNameKey)
        === "my.prefix.Rec2")
      assert(st("level1").dataType.asInstanceOf[StructType]("level2")
        .metadata.getString(JsonSchemaInference.SchemaNameKey) === "my.prefix.Rec")
      // Array-of-struct fields carry the element name under the element key.
      assert(st("items").metadata.getString(JsonSchemaInference.ElementSchemaNameKey)
        .startsWith("my.prefix.Rec"))
      // And the data itself round-tripped.
      assert(back.collect().head.getStruct(0).getInt(0) === 42)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("heterogeneous array [1, \"a\"]: FAILFAST throws (DataException parity); permissive nulls the record") {
    // Reference parity: first-element inference types the array int32, then
    // JsonConverter's value conversion throws DataException on the "a"
    // element (ExpandJson.java:220 + JsonConverter). Our FAILFAST mode
    // surfaces the same failure as a SparkException at parse time — strict
    // parity. Permissive mode maps it to a NULL expanded value for the
    // whole record (Spark's PERMISSIVE from_json treats the conversion
    // failure at record granularity, not element) — the documented
    // error-model mapping (§2.3): strict mode agrees with the reference,
    // lenient mode degrades by record.
    val df = Seq("""{"h": [1, 2]}""", """{"h": [1, "a"]}""").toDF("value")
    intercept[SparkException] {
      df.transform(
        ExpandJson.whole("value", inferenceMode = JsonSchemaInference.FirstRow)).collect()
    }
    val ok = df.transform(ExpandJson.whole("value",
      inferenceMode = JsonSchemaInference.FirstRow, permissive = true))
      .collect().map(r => if (r.isNullAt(0)) null else r.getStruct(0).getSeq[Any](0))
    assert(ok(0) === Seq(1, 2))
    // The unconvertible record's expanded value is null; the clean record
    // is untouched.
    assert(ok(1) === null)
  }

  test("unifyArrayElements extension: [1,\"a\"] -> array<string>, parsed whole; faithful default unchanged") {
    // The Spark-native option (SURVEY §1.2 note): element type is the
    // mergeTypes widening fold over ALL elements, so the union-typed array
    // survives intact. The faithful first-element default (and its FAILFAST
    // DataException parity, previous test) is untouched.
    val df = Seq("""{"h": [1, "a"], "m": [1, 2.5], "w": [1, 2]}""").toDF("value")
    val out = df.transform(
      ExpandJson.whole("value").copy(unifyArrayElements = true))
    val st = out.schema("value").dataType.asInstanceOf[StructType]
    assert(st("h").dataType === ArrayType(StringType, true))
    assert(st("m").dataType === ArrayType(DoubleType, true))
    assert(st("w").dataType === ArrayType(IntegerType, true))
    val row = out.collect()(0).getStruct(0)
    // In-vocab note: from_json renders the non-string 1 into the string
    // slot as its JSON text — the mergeTypes universal-fallback contract.
    assert(row.getSeq[String](0) === Seq("1", "a"))
    assert(row.getSeq[Double](1) === Seq(1.0, 2.5))
    assert(row.getSeq[Int](2) === Seq(1, 2))
    // Faithful default on the SAME frame still types h by its first
    // element and throws in FAILFAST (reference parity).
    intercept[SparkException] {
      df.transform(ExpandJson.whole("value")).collect()
    }
    // fromConfig surface: the extension property opts in; absent -> faithful.
    val viaCfg = ExpandJson.fromConfig(Map("unify.array.elements" -> "true"))
    assert(viaCfg.unifyArrayElements)
    assert(!ExpandJson.fromConfig(Map.empty[String, String]).unifyArrayElements)
  }

  // ---------------------------------------------------------------------
  // The inference sample: the first rows of every partition
  // ---------------------------------------------------------------------

  /** 4 × 1,100 rows in four partitions, `extra` only in the first row of
    * partition 3: a `limit(1024)` sample reads partition 0 alone. */
  private def laterPartitionFrame =
    spark.sparkContext.parallelize((0 until 4400).map { i =>
      if (i == 3300) """{"k": 3300, "extra": {"code": 3}}""" else s"""{"k": $i}"""
    }, 4).toDF("value")

  test("inference samples every partition: a field only in partition 3 is kept") {
    val df = laterPartitionFrame
    for (out <- Seq(df.transform(ExpandJson.whole("value")),
        df.transform(ExpandJson.onFields(Seq("value"))))) {
      assert(out.schema("value").dataType === StructType(Seq(
        StructField("k", IntegerType),
        StructField("extra", StructType(Seq(StructField("code", IntegerType)))))))
      assert(out.filter($"value.extra.code" === 3).select($"value.k").as[Int].collect().toSeq
        === Seq(3300))
      assert(out.count() === 4400)
    }
  }

  test("permissive: a malformed value in a later partition's sample is left out of inference") {
    // Ten valid rows fill partition 0; partition 1 starts with the
    // malformed row, which the sample reads.
    val lines = (0 until 10).map(i => s"""{"k": $i}""") ++ Seq("""{"broken": """) ++
      (10 until 19).map(i => s"""{"k": $i}""")
    val df = spark.sparkContext.parallelize(lines, 2).toDF("value")
    val out = df.transform(ExpandJson.whole("value", permissive = true))
    assert(out.schema("value").dataType === StructType(Seq(StructField("k", IntegerType))))
    val corrupt = out.collect().count { r =>
      r.isNullAt(0) || { val s = r.getStruct(0); (0 until s.length).forall(s.isNullAt) }
    }
    assert(corrupt === 1)
    // FAILFAST: the sampled malformed value fails the build.
    intercept[SparkException](df.transform(ExpandJson.whole("value")))
  }

  test("inference reads on past empty leading partitions (FirstRow and Merge)") {
    val df = spark.range(0, 8, 1, 4).where($"id" >= 2).select(to_json(struct($"id")).as("value"))
    for (mode <- Seq(JsonSchemaInference.FirstRow, JsonSchemaInference.Merge)) {
      val out = df.transform(ExpandJson.whole("value", inferenceMode = mode))
      assert(out.schema("value").dataType === StructType(Seq(StructField("id", IntegerType))))
      assert(out.select($"value.id").as[Int].collect().sorted.toSeq === (2 until 8))
    }
  }

  /** Documents over four common keys plus rare generated ones, so later
    * rows keep adding fields and widening types. */
  private val docGen: Gen[String] = {
    val key = Gen.frequency(60 -> Gen.oneOf("a", "b", "c", "d"), 1 -> Gen.identifier.map(_.take(6)))
    val scalar = Gen.oneOf(
      Gen.chooseNum(-1000, 1000).map(_.toString),
      Gen.chooseNum(3000000000L, 4000000000L).map(_.toString),
      Gen.chooseNum(-1e3, 1e3).map(d => f"$d%.3f"),
      Gen.alphaStr.map(s => "\"" + s.take(5) + "\""),
      Gen.oneOf("true", "null"))
    def obj(depth: Int): Gen[String] = for {
      n <- Gen.chooseNum(1, 3)
      keys <- Gen.listOfN(n, key).map(_.distinct)
      vals <- Gen.listOfN(keys.size,
        if (depth == 0) scalar
        else Gen.frequency(4 -> scalar, 1 -> obj(depth - 1),
          1 -> Gen.listOfN(2, scalar).map(_.mkString("[", ", ", "]"))))
    } yield keys.zip(vals).map { case (k, v) => "\"" + k + "\": " + v }.mkString("{", ", ", "}")
    obj(2)
  }

  test("property: the schema is inferFromSample over the per-partition prefixes, and contains the limit sample's") {
    val docs = Iterator.from(0)
      .map(i => docGen(Gen.Parameters.default, rng.Seed(7L + i)))
      .flatten.take(4500).toSeq
    for (p <- Seq(1, 3, 8)) {
      val rdd = spark.sparkContext.parallelize(docs, p)
      val df = rdd.toDF("value")
      val got = df.transform(ExpandJson.whole("value")).schema("value").dataType
      val prefixes = rdd.glom().collect().take(1024).flatMap(_.take(1024)).toSeq
      assert(got === JsonSchemaInference.inferFromSample(prefixes).get, s"p = $p")
      // A limit(1024) sample's schema, merged into ours, changes nothing:
      // its fields come first in the same order and no type narrows.
      val limited = JsonSchemaInference.inferFromSample(
        df.limit(1024).collect().map(_.getString(0)).toSeq).get
      assert(JsonSchemaInference.mergeTypes(limited, got) === got, s"p = $p")
      if (p > 1) assert(got !== limited, s"p = $p: later partitions added nothing")
    }
  }
}
