package graft

import graft.streaming.{AttrEvent, ExpandJsonStreaming, Funnel, FunnelEvent, FunnelStage, Scd2Change, Sessionize, SessionEvent, StreamDedup, UserSession}
import graft.transform.ExpandJson
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming-layer execution tests over MemoryStream — the same DataFrame
 * surface the Kafka source presents (KafkaJson), driven through real
 * micro-batches so flatMapGroupsWithState, watermarks, and
 * dropDuplicatesWithinWatermark actually run.
 */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private val Min = 60L * 1000000000L // one minute in nanos
  private val T0 = 1700000000L * 1000000000L

  private def runToCompletion(q: StreamingQuery, feeds: () => Unit*): Unit = {
    feeds.foreach { f => f(); q.processAllAvailable() }
    q.stop()
  }

  test("withSessionIds: reserved column names on the input are rejected, not overwritten") {
    import spark.implicits._
    val df = Seq((1L, 100L, 7L)).toDF("user_id", "ts", "session_id")
    val e = intercept[IllegalArgumentException] {
      Sessionize.withSessionIds(df, "user_id", "ts", 1000L, Seq("ts"))
    }
    assert(e.getMessage.contains("session_id"))
  }

  test("streamingSessions emits the same sessions as batchSessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Seq(
      SessionEvent(1L, T0), SessionEvent(1L, T0 + 10 * Min), SessionEvent(1L, T0 + 45 * Min),
      SessionEvent(2L, T0 + 5 * Min))
    val in = MemoryStream[SessionEvent]
    val out = Sessionize.streamingSessions(in.toDS(), gapNanos = 30 * Min)
    val q = out.writeStream.format("memory").queryName("sessions_eq").outputMode("append").start()
    runToCompletion(q,
      () => in.addData(events),
      () => in.addData(SessionEvent(99L, T0 + 24 * 60 * Min)),
      () => in.addData(SessionEvent(98L, T0 + 48 * 60 * Min)))

    val streamed = spark.table("sessions_eq").as[UserSession].collect()
      .filter(s => s.user_id != 98L && s.user_id != 99L)
      .map(s => (s.user_id, s.session_id, s.n_events, s.start_ts, s.end_ts)).toSet
    val batch = Sessionize.batchSessions(events.toDF(), "user_id", "ts", gapNanos = 30 * Min)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 3) // user1: two sessions; user2: one
  }

  test("streamingSessions holds open sessions until the watermark passes the gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val out = Sessionize.streamingSessions(in.toDS(), gapNanos = 30 * Min)
    val q = out.writeStream.format("memory").queryName("sessions_open").outputMode("append").start()
    in.addData(SessionEvent(1L, T0)); q.processAllAvailable()
    // Watermark has not moved past T0+gap: nothing may be emitted yet.
    assert(spark.table("sessions_open").count() === 0)
    in.addData(SessionEvent(99L, T0 + 120 * Min)); q.processAllAvailable()
    in.addData(SessionEvent(98L, T0 + 240 * Min)); q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessions_open").as[UserSession].collect().filter(_.user_id == 1L)
    assert(rows.toSeq === Seq(UserSession(1L, 1L, 1L, T0, T0)))
  }

  test("exactWithinWatermark drops duplicate keys arriving inside the delay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = in.toDF().toDF("k", "ts")
    val out = StreamDedup.exactWithinWatermark(stream, Seq("k"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_wm").outputMode("append").start()
    val t = (m: Long) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    runToCompletion(q,
      () => in.addData((1L, t(0)), (2L, t(1)), (1L, t(2)), (1L, t(3)), (2L, t(4))))
    val ks = spark.table("dedup_wm").select("k").as[Long].collect().sorted
    assert(ks.toSeq === Seq(1L, 2L))
  }

  test("byContentHash dedups identical payloads with different event times") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val stream = in.toDF().toDF("text", "ts")
    val out = StreamDedup.byContentHash(stream, "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_hash").outputMode("append").start()
    val t = (m: Long) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    runToCompletion(q,
      () => in.addData(("same doc", t(0)), ("same doc", t(1)), ("other doc", t(2))))
    val texts = spark.table("dedup_hash").select("text").as[String].collect().sorted
    assert(texts.toSeq === Seq("other doc", "same doc"))
    assert(!spark.table("dedup_hash").columns.contains("__content_hash"))
  }

  test("tumbling-window aggregation finalizes windows as the watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val out = in.toDF().toDF("v", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      .select(col("w.start").as("start"), col("n"), col("total"))
    val q = out.writeStream.format("memory").queryName("win_agg").outputMode("append").start()
    val t = (m: Long) => new java.sql.Timestamp(1700000000000L / 3600000L * 3600000L + m * 60000L)
    in.addData((1L, t(5)), (2L, t(20)), (3L, t(59))); q.processAllAvailable()
    // Window still open: nothing finalized yet.
    assert(spark.table("win_agg").count() === 0)
    in.addData((9L, t(300))); q.processAllAvailable()
    in.addData((9L, t(600))); q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_agg").select("n", "total").as[(Long, Long)].collect()
    assert(rows.contains((3L, 6L)), rows.mkString(","))
  }

  test("expandWhole parses a JSON value stream against a fixed schema") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val schema = JsonTestSchemas.kv
    val in = MemoryStream[String]
    val out = ExpandJsonStreaming.expandWhole(in.toDF().toDF("value"), "value", schema)
    val q = out.writeStream.format("memory").queryName("expand_fixed").outputMode("append").start()
    runToCompletion(q,
      () => in.addData("""{"k": 7, "tag": "a"}""", """{"k": -2, "tag": "b"}"""))
    val rows = spark.table("expand_fixed").select("value.k", "value.tag")
      .as[(Int, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((-2, "b"), (7, "a")))
  }

  test("expandFields: nested dotted target works on a stream via schema overrides") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    implicit val sq = spark.sqlContext
    // No inference on streams (guarded); the dotted path + override goes
    // through the same in-place struct rebuild as batch.
    val schema = JsonTestSchemas.kv
    val in = MemoryStream[(String, String)]
    val framed = in.toDF().toDF("id", "payload")
      .select(col("id"), struct(col("payload")).as("env"))
    val out = ExpandJsonStreaming.expandFields(framed, Map("env.payload" -> schema))
    val q = out.writeStream.format("memory").queryName("expand_nested_stream")
      .outputMode("append").start()
    runToCompletion(q,
      () => in.addData(("a", """{"k": 7, "tag": "x"}""")))
    val rows = spark.table("expand_nested_stream")
      .select("id", "env.payload.k", "env.payload.tag")
      .as[(String, Int, String)].collect()
    assert(rows.toSeq === Seq(("a", 7, "x")))
  }

  test("expandFields: array-descent target works on a stream via schema overrides") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct, array}
    implicit val sq = spark.sqlContext
    val schema = JsonTestSchemas.kv
    val in = MemoryStream[(String, String, String)]
    val framed = in.toDF().toDF("id", "p1", "p2")
      .select(col("id"), array(struct(col("p1").as("payload")),
        struct(col("p2").as("payload"))).as("events"))
    val out = ExpandJsonStreaming.expandFields(framed, Map("events.payload" -> schema))
    val q = out.writeStream.format("memory").queryName("expand_array_stream")
      .outputMode("append").start()
    runToCompletion(q,
      () => in.addData(("a", """{"k": 1, "tag": "x"}""", """{"k": 2, "tag": "y"}""")))
    val rows = spark.table("expand_array_stream")
      .selectExpr("id", "events[0].payload.k", "events[1].payload.tag")
      .as[(String, Int, String)].collect()
    assert(rows.toSeq === Seq(("a", 1, "y")))
  }

  test("streaming decontamination filters quoting docs against a persisted eval shingle set") {
    import graft.functions.Contamination
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evSh = Contamination.evalShingles(
      Seq((1000L, "What is the capital of France? Paris is the capital of France."))
        .toDF("doc_id", "text"),
      "text", k = 16)
    val in = MemoryStream[(Long, String)]
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val writer = Contamination.cleanStream(
      in.toDF().toDF("doc_id", "text"), evSh, "doc_id", "text", k = 16, minOverlap = 10) {
      (df, _) => kept.synchronized { kept ++= df.select("doc_id").as[Long].collect() }
    }
    val q = writer.queryName("decon_stream").start()
    runToCompletion(q,
      () => in.addData(
        (1L, "quote dump: What is the capital of France? Paris is the capital of France."),
        (2L, "an original essay about rivers and bridges")),
      () => in.addData(
        (3L, "Paris is the capital of France. verbatim again, What is the capital of France?"),
        (4L, "def main(): return 42")))
    assert(kept.sorted.toSeq == Seq(2L, 4L), kept.toString)
  }

  test("expandWholeObserved counts malformed, drifted, and new-field rows per micro-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val schema = JsonTestSchemas.kv // struct<k:int, tag:string>
    val in = MemoryStream[String]
    val out = ExpandJsonStreaming.expandWholeObserved(
      in.toDF().toDF("value"), "value", schema)
    val q = out.writeStream.format("memory").queryName("expand_observed")
      .outputMode("append").start()
    runToCompletion(q,
      () => in.addData(
        """{"k": 7, "tag": "a"}""",          // clean
        """{"k": "oops", "tag": "b"}""",     // drift: k arrives as string
        """not json at all""",               // malformed
        """{"k": null, "tag": "d"}""",       // explicit JSON null: NOT drift
        """{"k": 1, "tag": "c", "x": 9}""")) // new field: x
    val ms = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("expand_json_drift")))
    def total(f: String) = ms.map(_.getAs[Long](f)).sum
    assert(total("rows") == 5, ms.mkString(";"))
    assert(total("malformed_rows") == 1, ms.mkString(";"))
    // the JSON-null row parses to a null field but carries no value — it
    // must not count as drift
    assert(total("drifted_field_rows") == 1, ms.mkString(";"))
    assert(total("new_field_rows") == 1, ms.mkString(";"))
    // The stream itself keeps flowing: PERMISSIVE means drift degrades to
    // nulls instead of failing the query.
    assert(spark.table("expand_observed").count() == 5)
  }

  test("foreachBatchExpand re-infers per micro-batch (schema drift across batches)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val writer = ExpandJsonStreaming.foreachBatchExpand(
      in.toDF().toDF("value"),
      ExpandJson.whole("value"),
      (df, id) => seen.synchronized { seen += ((id, df.schema.catalogString)) })
    val q = writer.queryName("expand_drift").start()
    runToCompletion(q,
      () => in.addData("""{"a": 1}"""),
      () => in.addData("""{"a": 1, "b": "x"}"""))
    val schemas = seen.sortBy(_._1).map(_._2)
    assert(schemas.size === 2)
    assert(schemas(0).contains("a:int") && !schemas(0).contains("b:string"), schemas(0))
    assert(schemas(1).contains("a:int") && schemas(1).contains("b:string"), schemas(1))
  }

  test("foreachBatchExpand drift: int -> long -> extra field, one schema per batch") {
    // The reference caches the first record's inferred schema per cache
    // entry (SURVEY §1.4); our micro-batch granularity means each batch
    // independently re-infers — an int batch types int32, a long batch
    // int64, and a new field appears the batch it arrives, never
    // retroactively.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val writer = ExpandJsonStreaming.foreachBatchExpand(
      in.toDF().toDF("value"),
      ExpandJson.whole("value"),
      (df, id) => seen.synchronized { seen += ((id, df.schema.catalogString)) })
    val q = writer.queryName("expand_drift_ladder").start()
    runToCompletion(q,
      () => in.addData("""{"n": 7}"""),
      () => in.addData("""{"n": 9999999999}"""),
      () => in.addData("""{"n": 7, "extra": true}"""))
    val schemas = seen.sortBy(_._1).map(_._2)
    assert(schemas.size === 3)
    assert(schemas(0).contains("n:int") && !schemas(0).contains("extra"), schemas(0))
    assert(schemas(1).contains("n:bigint"), schemas(1))
    assert(schemas(2).contains("n:int") && schemas(2).contains("extra:boolean"), schemas(2))
  }

  test("end-to-end pipeline: JSON value stream -> expand -> sessionize") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType)))
    val in = MemoryStream[String]
    val expanded = ExpandJsonStreaming.expandWhole(in.toDF().toDF("value"), "value", schema)
      .select(col("value.user").as("user_id"), col("value.ts").as("ts"))
      .as[SessionEvent]
    val out = Sessionize.streamingSessions(expanded, gapNanos = 30 * Min)
    val q = out.writeStream.format("memory").queryName("pipeline_e2e").outputMode("append").start()
    def ev(u: Long, ts: Long) = s"""{"user": $u, "ts": $ts}"""
    runToCompletion(q,
      () => in.addData(ev(1, T0), ev(1, T0 + 5 * Min), ev(1, T0 + 90 * Min)),
      () => in.addData(ev(99, T0 + 24 * 60 * Min)),
      () => in.addData(ev(98, T0 + 48 * 60 * Min)))
    val sessions = spark.table("pipeline_e2e").as[UserSession].collect()
      .filter(_.user_id == 1L).sortBy(_.session_id)
    assert(sessions.map(s => (s.session_id, s.n_events, s.start_ts, s.end_ts)).toSeq ===
      Seq((1L, 2L, T0, T0 + 5 * Min), (2L, 1L, T0 + 90 * Min, T0 + 90 * Min)))
  }

  test("streaming corpus-cleaning pipeline: expand -> quality gate -> PII scrub -> dedup") {
    // The full pre-training ingest composition on one unbounded stream:
    // JSON docs are expanded against a fixed schema, low-quality rows
    // (high word-repetition) are gated out, PII is scrubbed, and exact
    // duplicates within the watermark are dropped — every stage narrow
    // except the dedup state shuffle.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val in = MemoryStream[String]
    val cleaned = ExpandJsonStreaming.expandWhole(in.toDF().toDF("value"), "value", schema)
      .select(
        col("value.id").as("id"),
        timestamp_micros((col("value.ts") / 1000L).cast("long")).as("ts"),
        col("value.text").as("text"))
      .filter(graft.functions.TextFunctions.wordRepetitionRatio(col("text")) < 0.5)
      .withColumn("text", graft.functions.TextFunctions.redactPii(col("text")))
    val deduped = StreamDedup.byContentHash(cleaned, "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("clean_e2e").outputMode("append").start()
    def doc(id: Long, ts: Long, text: String) =
      s"""{"id": $id, "ts": $ts, "text": "$text"}"""
    runToCompletion(q,
      () => in.addData(
        doc(1, T0, "contact me at bob@example.com for the data"),
        doc(2, T0 + Min, "spam spam spam spam spam spam"), // repetition-gated
        doc(3, T0 + 2 * Min, "contact me at bob@example.com for the data"), // dup of 1
        doc(4, T0 + 3 * Min, "a genuinely different document entirely")))
    val rows = spark.table("clean_e2e").select("id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 4L), rows.mkString(", "))
    assert(rows(0)._2 == "contact me at <EMAIL> for the data", rows(0)._2)
  }

  test("variant mode works on a stream: per-record types with variant_get extraction") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[String]
    val out = ExpandJsonStreaming.expandVariant(in.toDF().toDF("value"), "value")
      .select(variant_get(col("value"), "$.k", "int").as("k"))
    val q = out.writeStream.format("memory").queryName("variant_stream").outputMode("append").start()
    runToCompletion(q,
      () => in.addData("""{"k": 1}""", """{"k": 2, "extra": [1, 2]}""", """{"other": true}"""))
    val ks = spark.table("variant_stream").as[Option[Int]].collect().toSet
    assert(ks === Set(Some(1), Some(2), None))
  }

  test("stream-stream interval join: clicks attributed to impressions within 10 minutes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val impressions = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val imp = impressions.toDF().toDF("ad", "imp_time").withWatermark("imp_time", "10 minutes")
    val clk = clicks.toDF().toDF("ad_c", "click_time").withWatermark("click_time", "10 minutes")
    val joined = imp.join(clk,
      col("ad") === col("ad_c") &&
        col("click_time") >= col("imp_time") &&
        col("click_time") <= col("imp_time") + expr("INTERVAL 10 MINUTES"))
      .select(col("ad"), col("imp_time"), col("click_time"))
    val q = joined.writeStream.format("memory").queryName("attribution").outputMode("append").start()
    val t = (m: Long) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    runToCompletion(q,
      () => { impressions.addData((1L, t(0)), (2L, t(0))); clicks.addData((1L, t(5)), (2L, t(30))) },
      () => { impressions.addData((9L, t(300))); clicks.addData((9L, t(300))) })
    val rows = spark.table("attribution").filter(col("ad") < 9)
      .select("ad").as[Long].collect().toSeq
    // ad 1 clicked within the window; ad 2's click came 30 min later.
    assert(rows === Seq(1L))
  }

  test("streaming near-dup filter against a persisted MinHash index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val newDay = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()

    val dir = java.nio.file.Files.createTempDirectory("graft-stream-mh").toString
    try {
      graft.functions.Dedup.writeMinhashIndex(
        graft.functions.Dedup.buildMinhashIndex(corpus, "doc_id", "text"), dir)
      val index = graft.functions.Dedup.readMinhashIndex(spark, dir)

      // Batch-side expectation: ids with a corpus near-dup at 0.8.
      val dupIds = graft.functions.Dedup.minhashPairsBetween(
        docs.filter(col("doc_id") >= 400), corpus, "doc_id", "text", threshold = 0.8)
        .select(col("i")).collect().map(_.getLong(0)).toSet
      assert(dupIds.nonEmpty) // the synthetic corpus has cross-boundary dups

      val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
      val in = MemoryStream[(Long, String)]
      val writer = StreamDedup.nearDupFilterAgainstIndex(
        in.toDF().toDF("doc_id", "text"), index, "doc_id", "text") {
        (batch, _) =>
          survived.synchronized {
            survived ++= batch.select(col("doc_id")).collect().map(_.getLong(0))
          }
      }
      val q = writer.queryName("near_dup_filter").start()
      val (b1, b2) = newDay.splitAt(newDay.length / 2)
      runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq))

      val expected = newDay.map(_._1).toSet -- dupIds
      assert(survived.toSet == expected)
      assert(survived.size < newDay.length) // something was actually filtered
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Kafka sink serialization: expanded frame round-trips through to_json") {
    import spark.implicits._
    // KafkaJson.writeStream serializes every row as to_json(struct(*));
    // feeding that JSON back through the whole-value expand must
    // reconstruct the typed frame — the sink/source fidelity contract.
    val df = Seq((1L, """{"k": 7, "tag": "a"}"""), (2L, """{"k": -2, "tag": "b"}"""))
      .toDF("id", "value")
      .transform(ExpandJson.whole("value"))
    val wire = df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
    val back = wire.transform(ExpandJson.whole("value"))
      .select(col("value.id"), col("value.value.k"), col("value.value.tag"))
      .as[(Long, Int, String)].collect().toSet
    assert(back === Set((1L, 7, "a"), (2L, -2, "b")))
  }

  test("streaming capstone: expand -> median gate -> decontaminate -> near-dup, parity with batch") {
    // The streaming twin of the batch pipeline_train_prep capstone,
    // composed from the library's streaming faces on ONE MemoryStream
    // query: JSON docs expand against a fixed schema (with drift
    // observability), the per-language binned-median quality gate is a
    // stateless broadcast join against PERSISTED thresholds, and
    // decontamination + near-dup-vs-index run per micro-batch inside
    // TrainPrep.prepStream — all reference state in storage, none in the
    // state store. Every per-document verdict is batch-boundary-free, so
    // the two-batch streaming run must match the batch operators' output
    // on the same fixture exactly.
    import graft.functions.{Contamination, Dedup, Median, TextFunctions => TF}
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val history = docs.filter(col("doc_id") < 300) // the indexed historical corpus
    val evalDocs = docs.filter(col("doc_id") % 100 === 0) // benchmark set
    val live = docs.filter(col("doc_id") >= 300 && col("doc_id") % 100 =!= 0)

    // Persisted references, each from its batch job:
    val thresholds = Median.binnedMedianPerGroup(
      history.filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("lang"),
          Median.bin(coalesce(TF.qualityScore(col("text")), lit(0.0))).as("__qb")),
      "lang", "__qb")
    val evSh = Contamination.evalShingles(evalDocs, "text")
    val index = Dedup.buildMinhashIndex(history, "doc_id", "text")

    // Batch-side expectation with the oracle-verified batch operators.
    val gatedB = live
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .withColumn("__qb",
        Median.bin(coalesce(TF.qualityScore(col("text")), lit(0.0))))
      .join(thresholds, "lang")
      .filter(col("__qb") >= col("med_bin"))
      .select(col("doc_id"), col("lang"), col("text"))
    val gatedIds = gatedB.select("doc_id").as[Long].collect().toSet
    val dirtyIds = Contamination
      .contaminatedAgainst(gatedB, evSh, "doc_id", "text", k = 16, minOverlap = 10)
      .select(col("doc_id")).as[Long].collect().toSet
    val cleanB = gatedB.filter(!col("doc_id").isInCollection(dirtyIds + -1L))
    val dupIds = Dedup
      .minhashPairsBetween(cleanB, history, "doc_id", "text", threshold = 0.8)
      .select("i").as[Long].collect().toSet
    val expected = gatedIds -- dirtyIds -- dupIds
    val liveCount = live.count()
    assert(gatedIds.size < liveCount) // the gate dropped something
    assert(dupIds.nonEmpty) // the synthetic corpus has cross-boundary dups
    assert(expected.nonEmpty)

    // Streaming side: same docs as JSON, two micro-batches.
    val wire = live
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("j"))
      .as[String].collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val survived = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[String]
    val expanded = ExpandJsonStreaming
      .expandWholeObserved(in.toDF().toDF("value"), "value", schema, "capstone_drift")
      .select(col("value.doc_id").as("doc_id"), col("value.lang").as("lang"),
        col("value.text").as("text"))
    val writer = graft.streaming.TrainPrep.prepStream(
      expanded, thresholds, "lang", evSh, index, "doc_id", "text") { (batch, _) =>
      survived.synchronized {
        survived ++= batch.select(col("doc_id")).collect().map(_.getLong(0))
      }
    }
    val q = writer.queryName("train_prep_stream").start()
    val (b1, b2) = wire.splitAt(wire.length / 2)
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq))

    assert(survived.toSet == expected,
      s"stream=${survived.toSet.size} expected=${expected.size}")
    assert(survived.size == survived.toSet.size) // no doc emitted twice
  }

  test("GraphStream.ingestBasketsStream: split baskets + replayed batch equal the batch graph") {
    import graft.functions.Affinity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Real corpus slice: every lineitem row of 60 orders, delivered as a
    // (basket, item) stream in two micro-batches that SPLIT baskets at an
    // arbitrary row boundary, with batch 1 replayed (at-least-once).
    val rows = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_orderkey") % 25 === 0)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("it"))
      .as[(Long, Long)].collect()
    assert(rows.length > 20)
    val dir = java.nio.file.Files.createTempDirectory("graph_stream").toString + "/bi"
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.GraphStream.ingestBasketsStream(
        in.toDF().toDF("b", "it"), "b", "it", dir)
      .queryName("graph_ingest").start()
    val (b1, b2) = rows.splitAt(rows.length / 2) // splits mid-basket
    runToCompletion(q,
      () => in.addData(b1.toSeq),
      () => in.addData(b2.toSeq),
      () => in.addData(b1.toSeq)) // replayed delivery
    val streamed = Affinity.copresenceGraphFromStore(spark, dir, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Affinity.copresenceGraph(
        rows.toSeq.toDF("b", "it"), "b", "it", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture must produce a non-trivial graph")
  }

  test("StoreIngest.basketItemOps: split baskets + replay equal the batch graph; basket takedown lands above") {
    import graft.functions.Affinity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The GraphStream fixture, LOG-store face: real lineitem slice,
    // baskets split across micro-batch boundaries, batch 1 replayed.
    val rows = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_orderkey") % 25 === 0)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("it"))
      .as[(Long, Long)].collect()
    val dir = java.nio.file.Files.createTempDirectory("basket_log").toString + "/log"
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.StoreIngest.basketItemOps(
        in.toDF().toDF("b", "it"), "b", "it", dir)
      .queryName("basket_ops_ingest").start()
    val (b1, b2) = rows.splitAt(rows.length / 2) // splits mid-basket
    runToCompletion(q,
      () => in.addData(b1.toSeq),
      () => in.addData(b2.toSeq),
      () => in.addData(b1.toSeq)) // re-delivery at a later gen: absorbing
    def graph() = Affinity.copresenceGraphFromLog(spark, dir, minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Affinity.copresenceGraph(
        rows.toSeq.toDF("b", "it"), "b", "it", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graph() === batch)
    assert(batch.nonEmpty, "fixture must produce a non-trivial graph")
    // Batch-side basket takedown above the stream's generations: the
    // surviving graph equals the batch operator over a corpus that never
    // held the doomed baskets (support counts recompute, not just edges).
    val doomedB = rows.map(_._1).distinct.sorted.take(2)
    Affinity.tombstoneBaskets(spark, doomedB.toSeq.toDF("b"), dir, gen = 100L)
    Affinity.tombstoneBaskets(spark, doomedB.toSeq.toDF("b"), dir, gen = 100L) // replay
    val batchAfter = Affinity.copresenceGraph(
        rows.filterNot(r => doomedB.contains(r._1)).toSeq.toDF("b", "it"),
        "b", "it", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graph() === batchAfter)
  }

  test("StoreIngest: set store replay-idempotent; additive store sums disjoint batches") {
    import graft.functions.{Dedup, LangModel}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val rows = docs.as[(Long, String, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    // SET store (gram inventory): two batches + a REPLAY of batch 1 must
    // equal the batch operator over the union — replays are invisible.
    val gDir = java.nio.file.Files.createTempDirectory("ingest_gram").toString + "/g"
    val gIn = MemoryStream[(Long, String, String)]
    val gq = graft.streaming.StoreIngest.gramInventory(
        gIn.toDF().toDF("doc_id", "text", "source"), "text", "source", gDir)
      .queryName("gram_ingest").start()
    runToCompletion(gq,
      () => gIn.addData(b1.toSeq), () => gIn.addData(b2.toSeq),
      () => gIn.addData(b1.toSeq)) // replayed delivery
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = m(Dedup.overlapMatrixFromInventory(spark, gDir))
    val batch = m(Dedup.ngramSourceOverlap(docs, "text", "source"))
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture must produce cross-source overlap")
    // ADDITIVE store (LM counts): two DISJOINT batches sum to the batch
    // model — surprisal scores off the streamed store match training on
    // the union (same-id re-delivery is covered by the ledger test below).
    val lDir = java.nio.file.Files.createTempDirectory("ingest_lm").toString + "/lm"
    val lIn = MemoryStream[(Long, String, String)]
    val lq = graft.streaming.StoreIngest.lmCounts(
        lIn.toDF().toDF("doc_id", "text", "source"), "doc_id", "text", lDir)
      .queryName("lm_ingest").start()
    runToCompletion(lq, () => lIn.addData(b1.toSeq), () => lIn.addData(b2.toSeq))
    val lmStream = LangModel.readLm(spark, lDir)
    val score = docs.limit(40)
    def scores(lm: LangModel.Lm) =
      LangModel.surprisalWith(score, lm, "doc_id", "text")
        .select(col("doc_id"), col("bits")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lmBatchDir = java.nio.file.Files.createTempDirectory("ingest_lmb").toString + "/lm"
    LangModel.writeLmCounts(docs, "doc_id", "text", lmBatchDir)
    assert(scores(lmStream) === scores(LangModel.readLm(spark, lmBatchDir)))
  }

  test("StoreIngest ledger: additive sinks survive same-id batch re-delivery") {
    // Checkpoint recovery re-executes the last uncommitted foreachBatch
    // with the SAME id. The streamed store sees batches 0,1 through the
    // StoreIngest face; recovery is simulated by re-appending batch 1's
    // rows with batchId = 1 — scores must stay bit-identical.
    import graft.functions.{NaiveBayes, Retrieval}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val rows = docs.as[(Long, String, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    // NB face.
    val nDir = java.nio.file.Files.createTempDirectory("ingest_nb_led").toString + "/nb"
    val nIn = MemoryStream[(Long, String, String)]
    val nq = graft.streaming.StoreIngest.nbCounts(
        nIn.toDF().toDF("doc_id", "text", "lang"), "lang", "text", nDir)
      .queryName("nb_ingest_led").start()
    runToCompletion(nq, () => nIn.addData(b1.toSeq), () => nIn.addData(b2.toSeq))
    NaiveBayes.appendNbCounts( // recovery re-delivery of micro-batch 1
      b2.toSeq.toDF("doc_id", "text", "lang"), "lang", "text", nDir, batchId = 1L)
    def preds(m: NaiveBayes.NbModel) =
      NaiveBayes.classify(docs, m, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .sortBy(_._1).toSeq
    val got = preds(NaiveBayes.readNb(spark, nDir))
    assert(got === preds(NaiveBayes.train(docs, "lang", "text")) && got.nonEmpty)
    // BM25 face.
    val bDir = java.nio.file.Files.createTempDirectory("ingest_bm_led").toString + "/bm"
    val bIn = MemoryStream[(Long, String, String)]
    val bq = graft.streaming.StoreIngest.bm25Postings(
        bIn.toDF().toDF("doc_id", "text", "lang"), "doc_id", "text", bDir, buckets = 16)
      .queryName("bm25_ingest_led").start()
    runToCompletion(bq, () => bIn.addData(b1.toSeq), () => bIn.addData(b2.toSeq))
    Retrieval.appendBm25Index( // recovery re-delivery of micro-batch 1
      b2.toSeq.toDF("doc_id", "text", "lang"), "doc_id", "text", bDir, 16, batchId = 1L)
    val terms = Seq("the", "order", "hash")
    def topk(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long, Long)].collect().toSeq
    assert(topk(Retrieval.bm25TopKFromIndex(spark, bDir, terms, 25, buckets = 16)) ===
      topk(Retrieval.bm25TopK(docs, "doc_id", "text", terms, 25)))
  }

  test("AnnStream.ingestVectorsStream: streamed + replayed vectors equal the one-shot index") {
    import graft.functions.Similarity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.sampledIvfCentroids(emb, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val dir = java.nio.file.Files.createTempDirectory("ann_stream").toString + "/ivf"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.AnnStream.ingestVectorsStream(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", cents, dir)
      .queryName("ann_ingest").start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    runToCompletion(q,
      () => in.addData(b1.toSeq),
      () => in.addData(b2.toSeq),
      () => in.addData(b1.toSeq)) // replayed delivery
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // MemoryStream round-trips the float array through the encoder; the
    // payload is bit-stable, so scores match the one-shot index exactly.
    val streamed = res(Similarity.ivfTopKFromBucketed(
      spark, dir, queries, "vec_id", "embedding", k = 5, cents))
    val oneShot = res(Similarity.ivfTopKWithCentroids(
      emb, queries, "vec_id", "embedding", k = 5, cents, nProbe = 2))
    assert(streamed === oneShot)
    assert(streamed.nonEmpty)
  }

  test("AnnStream ingestion flips the filtered arm brute -> probe at the documented threshold") {
    // The stats-driven planner's STREAMING face (r13 verdict item 7):
    // the arm decision re-derives from the (ledger) stats at every
    // evaluation, so ingestion growth that crosses bruteBelowRows flips
    // brute -> probe on the next query — there is no cached decision to
    // go stale past the flip. Result parity is asserted on BOTH sides
    // of the boundary, and the replayed final slice exercises the
    // live-row discount in the estimate.
    import graft.functions.Similarity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cents = Similarity.sampledIvfCentroids(emb, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val pred = col("label") =!= 3 // ~90% survivors: the RELATIVE rule never
    // picks brute here, so the ABSOLUTE row threshold alone governs the flip.
    val rows = emb.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], Int)].collect()
    val dir = java.nio.file.Files.createTempDirectory("ann_stream_arm").toString + "/ivf"
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.AnnStream.ingestVectorsStream(
        in.toDF().toDF("vec_id", "embedding", "label"), "vec_id", "embedding",
        cents, dir, metaCols = Seq("label"))
      .queryName("ann_ingest_arm").start()
    val (b1, b2) = rows.splitAt(100) // ~90 survivors, below the 100-row switch
    def arms() = Similarity.filteredTopKAutoFromBucketed(spark, dir, queries,
      "vec_id", "embedding", k = 5, cents, nProbe = 2, where = pred,
      bruteBelowRows = 100L)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // Below the boundary: brute arm, exact over the streamed survivors.
    runToCompletion(q, () => in.addData(b1.toSeq))
    val (arm1, out1) = arms()
    assert(arm1 === Similarity.BruteArm,
      s"below the boundary: expected brute, got $arm1")
    val live1 = emb.filter(col("vec_id").isin(b1.map(_._1).toIndexedSeq: _*))
    assert(res(out1) === res(Similarity.bruteForceTopK(
      live1.filter(pred), queries, "vec_id", "embedding", k = 5)))
    // Growth past the boundary (plus a replayed slice): next evaluation
    // re-derives from the appended ledger and takes the probe arm.
    val q2 = graft.streaming.AnnStream.ingestVectorsStream(
        in.toDF().toDF("vec_id", "embedding", "label"), "vec_id", "embedding",
        cents, dir, metaCols = Seq("label"))
      .queryName("ann_ingest_arm2").start()
    runToCompletion(q2, () => in.addData(b2.toSeq), () => in.addData(b2.toSeq))
    val (arm2, out2) = arms()
    assert(arm2 === Similarity.ProbeArm,
      s"past the boundary: expected probe, got $arm2 — stale stats served the flip")
    assert(res(out2) === res(Similarity.ivfTopKFromBucketed(spark, dir, queries,
      "vec_id", "embedding", k = 5, cents, nProbe = 2, where = pred)))
  }

  test("SweepStream.dedupSweep: per-batch readings; the latest equals the batch sweep over the union") {
    import graft.functions.Dedup
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val base = java.nio.file.Files.createTempDirectory("sweep_dd").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.SweepStream.dedupSweep(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/index", s"$base/readings")
      .queryName("dedup_sweep_ingest").start()
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq),
      () => in.addData(b2.toSeq)) // replayed slice: idempotent by distinct-on-read
    def reading(df: org.apache.spark.sql.DataFrame) =
      df.select(col("threshold"), col("n_pairs"), col("n_docs")).collect()
        .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val latest = reading(
      graft.streaming.SweepStream.latestReading(spark, s"$base/readings"))
    val batch = reading(Dedup.sweepReport(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleK = 4, threshold = 0.7),
      Seq(0.7, 0.95, 0.98)))
    assert(latest === batch)
    assert(latest.values.map(_._1).sum > 0, "fixture must produce near-dup pairs")
  }

  test("StoreIngest.minhashIndex: streamed slices + replay equal the batch pair set") {
    import graft.functions.Dedup
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val dir = java.nio.file.Files.createTempDirectory("ingest_mh").toString + "/idx"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StoreIngest.minhashIndex(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", dir)
      .queryName("mh_ingest").start()
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq),
      () => in.addData(b1.toSeq)) // replayed slice
    def pairs(idx: Dedup.MinhashIndex) =
      Dedup.minhashPairsFromIndex(idx, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairs(Dedup.readMinhashIndexDedup(spark, dir))
    val batch = pairs(Dedup.buildMinhashIndex(docs, "doc_id", "text"))
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must produce near-dup pairs")
  }

  test("StreamDedup.incrementalClusters: streamed assignment equals batch clustering; replay appends nothing") {
    import graft.functions.Dedup
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect()
    val third = rows.length / 3
    val (b1, rest) = rows.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    val base = java.nio.file.Files.createTempDirectory("inc_cc").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamDedup.incrementalClusters(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/index", s"$base/assign")
      .queryName("inc_cc_ingest").start()
    runToCompletion(q,
      () => in.addData(b1.toSeq), () => in.addData(b2.toSeq),
      () => in.addData(b3.toSeq))
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = assign(
      graft.streaming.StreamDedup.readClusterAssignment(spark, s"$base/assign"))
    val batch = assign(Dedup.duplicateClusters(
      Dedup.minhashPairsFromIndex(
        Dedup.buildMinhashIndex(docs, "doc_id", "text"), threshold = 0.8)))
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must produce near-dup clusters")
    assert(streamed.exists { case (id, c) => id != c },
      "fixture must cluster at least one non-min member")
    // Replayed slice: the fold is already absorbed, so the changed-slice
    // is empty — no new live rows, assignment byte-identical.
    val logRowsBefore = spark.read.parquet(s"$base/assign").count()
    val q2 = graft.streaming.StreamDedup.incrementalClusters(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/index", s"$base/assign")
      .queryName("inc_cc_replay").start()
    runToCompletion(q2, () => in.addData(b2.toSeq))
    assert(assign(graft.streaming.StreamDedup.readClusterAssignment(
      spark, s"$base/assign")) === batch)
    assert(spark.read.parquet(s"$base/assign").count() === logRowsBefore)
  }

  test("StreamDedup.incrementalClustersOps: arrivals + takedowns equal clustering over survivors") {
    import graft.functions.Dedup
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect()
    val third = rows.length / 3
    val (b1, rest) = rows.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    // Takedowns chosen from CLUSTERED docs so the retract path does real
    // work (splits/relabels), not just tombstone bookkeeping.
    val clustered = Dedup.duplicateClusters(
        Dedup.minhashPairsFromIndex(
          Dedup.buildMinhashIndex(docs, "doc_id", "text"), threshold = 0.8))
      .collect().map(_.getLong(0)).toSet
    val doomed1 = b1.map(_._1).filter(clustered).take(3)
    val doomed2 = b2.map(_._1).filter(clustered).take(2)
    assert(doomed1.nonEmpty && doomed2.nonEmpty, "fixture must cluster across slices")
    val base = java.nio.file.Files.createTempDirectory("inc_cc_ops").toString
    def ins(xs: Seq[(Long, String)]) = xs.map { case (id, tx) => (0, id, tx) }
    def del(ids: Seq[Long]) = ids.map(id => (1, id, ""))
    val in = MemoryStream[(Int, Long, String)]
    def writer() = graft.streaming.StreamDedup.incrementalClustersOps(
      in.toDF().toDF("op", "doc_id", "text"), "op", "doc_id", "text",
      s"$base/index", s"$base/assign")
    val q = writer().queryName("inc_cc_ops").start()
    runToCompletion(q,
      () => in.addData(ins(b1.toSeq)),
      () => in.addData(ins(b2.toSeq) ++ del(doomed1.toSeq)),
      () => in.addData(ins(b3.toSeq) ++ del(doomed2.toSeq)))
    val doomedAll = (doomed1 ++ doomed2).toSet
    val survivors = docs.filter(!col("doc_id").isInCollection(doomedAll.toSeq))
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = assign(Dedup.duplicateClusters(
      Dedup.minhashPairsFromIndex(
        Dedup.buildMinhashIndex(survivors, "doc_id", "text"), threshold = 0.8)))
    val streamed = assign(
      graft.streaming.StreamDedup.readClusterAssignment(spark, s"$base/assign"))
    assert(streamed === expected)
    assert(streamed.nonEmpty, "fixture must keep near-dup clusters after takedown")
    assert(doomedAll.forall(id => !streamed.contains(id)))
    // Replay: a fresh query re-reads everything (plus a re-added slice) as
    // one batch at a higher generation — the absorbed stores must come out
    // byte-identical (empty changed/departed slices).
    in.addData(ins(b2.toSeq) ++ del(doomed1.toSeq))
    val q2 = writer().queryName("inc_cc_ops_replay").start()
    q2.processAllAvailable(); q2.stop()
    assert(assign(graft.streaming.StreamDedup.readClusterAssignment(
      spark, s"$base/assign")) === expected)
  }

  test("SweepStream.annSweep: the latest reading equals the batch sweep over the union") {
    import graft.functions.Similarity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val cents = Similarity.sampledIvfCentroids(emb, "vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sweep_ann").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.SweepStream.annSweep(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", cents,
        s"$base/index", s"$base/readings", k = 5, nProbes = Seq(1, 4))
      .queryName("ann_sweep_ingest").start()
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq),
      () => in.addData(b1.toSeq)) // replayed slice
    def reading(df: org.apache.spark.sql.DataFrame) =
      df.select(col("nprobe"), col("n_exact"), col("n_hit"), col("n_cand"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val latest = reading(
      graft.streaming.SweepStream.latestReading(spark, s"$base/readings"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val gt = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("vec_id"))
    val batch = reading(Similarity.ivfSweepReading(
      emb, queries, gt, "vec_id", "embedding", k = 5, cents, Seq(1, 4)))
    assert(latest === batch)
    assert(latest.values.map(_._2).sum > 0, "fixture must produce recall hits")
  }

  test("StoreIngest takedown streams: streamed decrements equal retrain-without, bit-identical") {
    import graft.functions.{LangModel, Retrieval}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
    val doomed = docs.filter(col("doc_id") % 3 === 0)
    val doomedRows = doomed.as[(Long, String)].collect()
    val (d1, d2) = doomedRows.splitAt(doomedRows.length / 2)
    val live = docs.limit(40)
    // LM: batch insert, then a takedown STREAM of two doomed slices +
    // a replayed slice (the ledger's high-bit id space keeps the insert
    // and takedown clocks disjoint).
    val lmDir = java.nio.file.Files.createTempDirectory("lm_td").toString + "/lm"
    LangModel.appendLmCounts(docs, "doc_id", "text", lmDir, batchId = 0L)
    val lIn = MemoryStream[(Long, String)]
    val lq = graft.streaming.StoreIngest.lmTakedowns(
        lIn.toDF().toDF("doc_id", "text"), "doc_id", "text", lmDir)
      .queryName("lm_takedowns").start()
    runToCompletion(lq, () => lIn.addData(d1.toSeq), () => lIn.addData(d2.toSeq))
    // Replay of the LAST takedown batch with its replay-stable id.
    LangModel.appendLmCountsNegated(
      d2.toSeq.toDF("doc_id", "text"), "doc_id", "text", lmDir,
      batchId = 1L | graft.streaming.StoreIngest.TakedownIdBit)
    def lmScores(lm: LangModel.Lm) =
      LangModel.surprisalWith(live, lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).sortBy(_._1).toSeq
    assert(lmScores(LangModel.readLm(spark, lmDir)) ===
      lmScores(LangModel.trainLm(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")))
    // BM25: same choreography through the postings face.
    val bDir = java.nio.file.Files.createTempDirectory("bm25_td").toString + "/idx"
    Retrieval.appendBm25Index(docs, "doc_id", "text", bDir, 16, batchId = 0L)
    val bIn = MemoryStream[(Long, String)]
    val bq = graft.streaming.StoreIngest.bm25Takedowns(
        bIn.toDF().toDF("doc_id", "text"), "doc_id", "text", bDir, buckets = 16)
      .queryName("bm25_takedowns").start()
    runToCompletion(bq, () => bIn.addData(d1.toSeq), () => bIn.addData(d2.toSeq))
    val terms = Seq("the", "order", "hash")
    assert(Retrieval.bm25TopKFromIndex(spark, bDir, terms, 25, buckets = 16)
      .as[(Long, Long, Long)].collect().toSeq ===
      Retrieval.bm25TopK(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", terms, 25).as[(Long, Long, Long)].collect().toSeq)
  }

  test("StoreIngest.graphEdgeOps: streamed inserts + replay match the batch set; takedowns land above the stream's generations") {
    import graft.functions.Graph
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_edges").toString + "/log"
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.StoreIngest.graphEdgeOps(
        in.toDF().toDF("u", "v"), "u", "v", dir)
      .queryName("edge_ops_ingest").start()
    val b1 = Seq((1L, 2L), (2L, 3L))
    val b2 = Seq((3L, 4L), (1L, 4L))
    // The "replayed" third delivery re-inserts b1 at a LATER generation —
    // inserts are absorbing under LWW, so the live set must not move.
    runToCompletion(q,
      () => in.addData(b1),
      () => in.addData(b2),
      () => in.addData(b1))
    def live() = Graph.readGraphEdgeLog(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live() === Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    // Batch-side takedown at a generation above every streamed batch id.
    Graph.appendGraphEdgeOps(
      Seq((1L, 2L)).toDF("u", "v"), "u", "v", dir, gen = 100L, delete = true)
    assert(live() === Set((2L, 3L), (3L, 4L), (1L, 4L)))
  }

  test("StoreIngest.setLogInserts: streamed slices + replay; batch-side takedown lands above") {
    import graft.functions.StoreLog
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_setlog").toString + "/log"
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.StoreIngest.setLogInserts(
        in.toDF().toDF("id", "sig"), dir)
      .queryName("setlog_ingest").start()
    val b1 = Seq((1L, 10L), (2L, 20L))
    val b2 = Seq((3L, 30L))
    // Third delivery re-inserts b1 at a later generation: inserts are
    // absorbing under LWW, so the live set must not move.
    runToCompletion(q,
      () => in.addData(b1),
      () => in.addData(b2),
      () => in.addData(b1))
    def live() = StoreLog.readLive(spark, dir, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live() === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // Takedown above every streamed generation.
    StoreLog.appendTombstones(Seq(Tuple1(2L)).toDF("id"), dir, gen = 100L)
    assert(live() === Set((1L, 10L), (3L, 30L)))
  }

  test("StoreIngest.ivfPqCodes/sqCodes: streamed + replayed slices equal the one-shot search") {
    import graft.functions.Similarity
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.sampledIvfCentroids(emb, "vec_id", "embedding")
    val cb = Similarity.pqCodebook(numSub = 4, codesPerSub = 16, subDim = 16)
    val (mins, maxs) = Similarity.sqTrain(emb, "embedding", 64)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val pqDir = java.nio.file.Files.createTempDirectory("ingest_pq").toString + "/pq"
    val pqIn = MemoryStream[(Long, Seq[Float])]
    val pqQ = graft.streaming.StoreIngest.ivfPqCodes(
        pqIn.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", cents, cb, 16, pqDir)
      .queryName("pq_ingest").start()
    runToCompletion(pqQ,
      () => pqIn.addData(b1.toSeq),
      () => pqIn.addData(b2.toSeq),
      () => pqIn.addData(b1.toSeq)) // replayed delivery
    assert(res(Similarity.ivfPqTopKFromIndex(
        spark, pqDir, emb, queries, "vec_id", "embedding", k = 5, cb, cents)) ===
      res(Similarity.ivfPqTopKWithCodebookRecon(
        emb, queries, "vec_id", "embedding", k = 5, cents, cb, 16)))

    val sqDir = java.nio.file.Files.createTempDirectory("ingest_sq8").toString + "/sq8"
    val sqIn = MemoryStream[(Long, Seq[Float])]
    val sqQ = graft.streaming.StoreIngest.sqCodes(
        sqIn.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", mins, maxs, sqDir)
      .queryName("sq8_ingest").start()
    runToCompletion(sqQ,
      () => sqIn.addData(b1.toSeq),
      () => sqIn.addData(b2.toSeq),
      () => sqIn.addData(b1.toSeq)) // replayed delivery
    assert(res(Similarity.sqTopKFromIndex(
        spark, sqDir, emb, queries, "vec_id", "embedding", k = 5, mins, maxs)) ===
      res(Similarity.sqTopK(emb, queries, "vec_id", "embedding", k = 5, dim = 64)))
  }

  test("LmStream.perplexityGateStream: parity with the batch gate off a persisted model") {
    import graft.functions.LangModel
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Train once on the historical tenth, persist, reload — the stream
    // scores against the STORED model, so its verdicts must equal the
    // oracle-checked batch gate's on the same rows (per-doc transitions
    // live within the row; nothing depends on batch boundaries).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val live = docs.filter(col("doc_id") % 10 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("lm_stream").toString
    LangModel.writeLmCounts(ref, "doc_id", "text", dir)
    val lm = LangModel.readLm(spark, dir)
    val expected = LangModel.perplexityGate(live, ref, "doc_id", "text", maxBitsPerToken = 4.8)
      .select("doc_id").as[Long].collect().toSet
    val liveRows = live.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(expected.nonEmpty && expected.size < liveRows.length,
      s"fixture must gate non-trivially: kept ${expected.size} of ${liveRows.length}")
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val writer = graft.streaming.LmStream.perplexityGateStream(
      in.toDF().toDF("doc_id", "text"), lm, "doc_id", "text", maxBitsPerToken = 4.8) {
      (batch, _) =>
        got.synchronized { got ++= batch.select("doc_id").collect().map(_.getLong(0)) }
    }
    val q = writer.queryName("lm_gate_stream").start()
    val (b1, b2) = liveRows.splitAt(liveRows.length / 2)
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq))
    assert(got.toSet === expected)
    assert(got.size === got.toSet.size, "no doc emitted twice")
  }

  test("NbStream.classifyStream: label parity with the batch classifier off a stored model") {
    import graft.functions.NaiveBayes
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 10 =!= 0)
    val live = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("nb_stream").toString
    NaiveBayes.writeNbCounts(ref, "lang", "text", dir)
    val model = NaiveBayes.readNb(spark, dir)
    val expected = NaiveBayes.classify(live, model, "doc_id", "text")
      .select(col("doc_id"), col("pred"), col("bits8"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val liveRows = live.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(expected.size === liveRows.length)
    val got = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val in = MemoryStream[(Long, String)]
    val writer = graft.streaming.NbStream.classifyStream(
      in.toDF().toDF("doc_id", "text"), model, "doc_id", "text") { (batch, _) =>
      val rows = batch.select(col("doc_id"), col("pred"), col("bits8"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      got.synchronized { got ++= rows }
    }
    val q = writer.queryName("nb_stream").start()
    val (b1, b2) = liveRows.splitAt(liveRows.length / 2)
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq))
    assert(got.toMap === expected)
  }

  test("hashRange split/sample are stateless and stream-safe (same verdict per row as batch)") {
    import graft.functions.Sampling
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The split/sample family is a pure function of the key — no state
    // store, no aggregation — so the SAME expressions drop into a
    // streaming pipeline and give every row the batch verdict: a
    // train/val/test split computed on a stream is consistent with (and
    // reproducible against) the batch assignment of the same rows.
    val ids = (1L to 300L)
    val in = MemoryStream[Long]
    val split = org.apache.spark.sql.functions.when(
      Sampling.hashRange(col("id").cast("string"), 0.0, 0.8, "sp1"), "train")
      .when(Sampling.hashRange(col("id").cast("string"), 0.8, 0.9, "sp1"), "val")
      .otherwise("test")
    val q = in.toDF().toDF("id").select(col("id"), split.as("split"))
      .writeStream.format("memory").queryName("stream_split").outputMode("append").start()
    runToCompletion(q, () => in.addData(ids.take(150): _*), () => in.addData(ids.drop(150): _*))
    val streamed = spark.table("stream_split").as[(Long, String)].collect().toMap
    val batch = ids.toDF("id").select(col("id"), split.as("split"))
      .as[(Long, String)].collect().toMap
    assert(streamed === batch)
    assert(Set("train", "val", "test").subsetOf(streamed.values.toSet))
  }

  test("stream-stream interval join: inner matches in-window; outer rows emit after the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]
    val clicks = MemoryStream[(Long, Long)]
    def withTs(df: DataFrame, k: String, t: String) =
      df.toDF(k, "secs").select(col(k), timestamp_seconds(col("secs")).as(t))
    val joined = graft.streaming.StreamJoin.interval(
      withTs(imps.toDF, "key", "itime"), withTs(clicks.toDF, "key", "ctime"),
      "key", "itime", "ctime",
      before = "0 seconds", after = "10 seconds", delay = "5 seconds",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    // Impression 1 gets an in-window click (+5s); impression 2's click
    // lands 80s late — attributable to nothing.
    imps.addData((1L, 10L), (2L, 20L))
    clicks.addData((1L, 15L), (2L, 100L), (3L, 12L))
    q.processAllAvailable()
    // Advance BOTH watermarks far past t=30 so the engine can prove no
    // match for impression 2 can still arrive, then trigger once more to
    // flush the outer row.
    imps.addData((8L, 1000L)); clicks.addData((8L, 2000L))
    q.processAllAvailable()
    imps.addData((7L, 3000L)); clicks.addData((7L, 4000L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj")
      .select(col("l_key"), col("r_key"), col("r_ctime").cast("long").as("csecs"))
      .as[(Long, Option[Long], Option[Long])].collect()
    assert(rows.contains((1L, Some(1L), Some(15L))), s"in-window match missing: ${rows.toSeq}")
    assert(rows.contains((2L, None, None)),
      s"unmatched impression must emit null-padded after the watermark: ${rows.toSeq}")
    // The out-of-window click never pairs with impression 2.
    assert(!rows.contains((2L, Some(2L), Some(100L))), rows.toSeq.toString)
  }

  test("inferThenExpand: static-sample inference drives the fixed-schema stream path") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val staticSample = Seq("""{"k": 87}""", """{"k": 3}""").toDF("value")
    val in = MemoryStream[String]
    val out = ExpandJsonStreaming.inferThenExpand(staticSample, in.toDF().toDF("value"), "value")
    assert(out.schema("value").dataType.catalogString === "struct<k:int>")
    val q = out.writeStream.format("memory").queryName("expand_infer").outputMode("append").start()
    runToCompletion(q, () => in.addData("""{"k": 42}"""))
    val rows = spark.table("expand_infer").select("value.k").as[Int].collect()
    assert(rows.toSeq === Seq(42))
  }

  test("inferThenExpand samples every partition of the static frame: a field only in partition 3 is kept") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 4 × 1,100 rows; `extra` only in the first row of partition 3, which
    // a limit(1024) sample never reaches.
    val staticSample = spark.sparkContext.parallelize((0 until 4400).map { i =>
      if (i == 3300) """{"k": 3300, "extra": {"code": 3}}""" else s"""{"k": $i}"""
    }, 4).toDF("value")
    val in = MemoryStream[String]
    val out = ExpandJsonStreaming.inferThenExpand(staticSample, in.toDF().toDF("value"), "value")
    assert(out.schema("value").dataType.catalogString === "struct<k:int,extra:struct<code:int>>")
    val q = out.writeStream.format("memory").queryName("expand_infer_spread")
      .outputMode("append").start()
    runToCompletion(q, () => in.addData("""{"k": 1, "extra": {"code": 3}}""", """{"k": 2}"""))
    val rows = spark.table("expand_infer_spread")
      .select($"value.k", $"value.extra.code").as[(Int, Option[Int])].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1, Some(3)), (2, None)))
  }

  test("Cdc.compactLog runs unchanged on a stream (complete mode), parity with batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // The same groupBy/max(struct) plan is a plain streaming aggregation:
    // complete mode re-emits the compacted table each micro-batch, and the
    // constant-size per-key state is exactly the batch aggregation buffer.
    val b1 = Seq(("k1", 1L, "a"), ("k1", 3L, "c"), ("k2", 5L, "x"))
    val b2 = Seq(("k1", 2L, "b"), ("k2", 9L, "y"), ("k3", 7L, "q"))
    val in = MemoryStream[(String, Long, String)]
    val out = graft.functions.Cdc.compactLog(
      in.toDF().toDF("key", "ver", "payload"),
      keyCols = Seq("key"), versionCols = Seq("ver"), payloadCols = Seq("payload"))
    val q = out.writeStream.format("memory").queryName("compact_stream")
      .outputMode("complete").start()
    runToCompletion(q, () => in.addData(b1), () => in.addData(b2))
    val streamed = spark.table("compact_stream")
      .as[(String, Long, String, Long)].collect().toSet
    val batch = graft.functions.Cdc.compactLog(
      (b1 ++ b2).toDF("key", "ver", "payload"),
      keyCols = Seq("key"), versionCols = Seq("ver"), payloadCols = Seq("payload"))
      .as[(String, Long, String, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set(("k1", 3L, "c", 3L), ("k2", 9L, "y", 2L), ("k3", 7L, "q", 1L)))
  }

  test("Funnel.stageStream: per-user stages match the batch funnel fold, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // User 1 completes the funnel across TWO batches (in-order per user);
    // user 2's purchase precedes any view — must stay at stage 0; user 3
    // clicks before viewing, so the click must NOT count (strict order),
    // then views: stage 1 only.
    val b1 = Seq(
      FunnelEvent(1L, T0, 10L, "view"), FunnelEvent(1L, T0 + Min, 11L, "click"),
      FunnelEvent(2L, T0, 20L, "purchase"),
      FunnelEvent(3L, T0, 30L, "click"))
    val b2 = Seq(
      FunnelEvent(1L, T0 + 2 * Min, 12L, "purchase"),
      FunnelEvent(2L, T0 + Min, 21L, "view"),
      FunnelEvent(3L, T0 + Min, 31L, "view"))
    val in = MemoryStream[FunnelEvent]
    val q = Funnel.stageStream(in.toDS()).writeStream
      .format("memory").queryName("funnel_stages").outputMode("update").start()
    runToCompletion(q, () => in.addData(b1), () => in.addData(b2))
    // Latest stage per user (update mode appends each batch's emission).
    val latest = spark.table("funnel_stages").as[FunnelStage].collect()
      .groupBy(_.user_id)
      .map { case (u, rs) =>
        u -> rs.map(r => (r.s1, r.s2, r.s3))
          .reduce((x, y) => (x._1 | y._1, x._2 | y._2, x._3 | y._3)) // monotone
      }
    // Scalar replica of the batch fold over the full in-order history.
    val expected = (b1 ++ b2).groupBy(_.user_id).map { case (u, es) =>
      u -> Funnel.fold(s1 = false, s2 = false, s3 = false,
        es.sortBy(e => (e.ts, e.event_id)).iterator)
    }
    assert(latest === expected)
    assert(expected(1L) === ((true, true, true)))
    assert(expected(2L) === ((true, false, false)))
    assert(expected(3L) === ((true, false, false)))
  }

  test("Funnel.lastTouchStream: per-purchase credits match the batch last-touch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // User 1: view -> purchase (credit view), then click -> purchase in a
    // LATER batch (credit click — state carries the touch across batches).
    // User 2: purchase with no prior touch -> "direct". User 3: the touch
    // arrives in batch 1, the purchase in batch 2 -> credit crosses the
    // batch boundary via state.
    val b1 = Seq(
      FunnelEvent(1L, T0, 10L, "view"), FunnelEvent(1L, T0 + Min, 11L, "purchase"),
      FunnelEvent(2L, T0, 20L, "purchase"),
      FunnelEvent(3L, T0, 30L, "signup"))
    val b2 = Seq(
      FunnelEvent(1L, T0 + 2 * Min, 12L, "click"),
      FunnelEvent(1L, T0 + 3 * Min, 13L, "purchase"),
      FunnelEvent(3L, T0 + Min, 31L, "purchase"))
    val in = MemoryStream[FunnelEvent]
    val q = Funnel.lastTouchStream(in.toDS(), convType = "purchase").writeStream
      .format("memory").queryName("touch_credits").outputMode("append").start()
    runToCompletion(q, () => in.addData(b1), () => in.addData(b2))
    val streamed = spark.table("touch_credits").as[graft.streaming.TouchCredit]
      .collect().map(c => (c.user_id, c.event_id, c.touch)).toSet
    // Batch operator over the full history = the parity oracle.
    val batch = Funnel.withLastTouch(
        (b1 ++ b2).toDF(), "user_id", "ts", "event_id", "event_type", "purchase")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        coalesce(col("touch"), lit("direct")).as("touch"))
      .as[(Long, Long, String)].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set(
      (1L, 11L, "view"), (1L, 13L, "click"), (2L, 20L, "direct"), (3L, 31L, "signup")))
  }

  test("Funnel.lastTouchStream idleTtl live: timeout drops state, later conversion is direct") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    // Explicit trigger: processing-time timeouts make every trigger run a
    // state-check batch, so the interval bounds the churn (the default
    // as-fast-as-possible trigger busy-loops — see the scaladoc).
    val in = MemoryStream[FunnelEvent]
    val q = Funnel.lastTouchStream(in.toDS(), convType = "purchase",
        idleTtl = Some("200 milliseconds"))
      .writeStream.format("memory").queryName("touch_ttl_live")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def credits(): Set[(Long, Long, String)] =
      spark.table("touch_ttl_live").as[graft.streaming.TouchCredit]
        .collect().map(c => (c.user_id, c.event_id, c.touch)).toSet
    def await(cond: => Boolean): Unit = {
      val end = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < end) Thread.sleep(100)
      assert(cond, s"timed out waiting; have ${credits()}")
    }
    try {
      in.addData(FunnelEvent(1L, T0, 10L, "ad"), FunnelEvent(1L, T0 + Min, 11L, "purchase"))
      await(credits().contains((1L, 11L, "ad")))
      // Idle well past the TTL: a timeout batch removes user 1's state
      // (timeouts never fire early; with 100ms triggers they fire within
      // a few intervals after the 200ms TTL).
      Thread.sleep(1500)
      in.addData(FunnelEvent(1L, T0 + 2 * Min, 12L, "purchase"))
      await(credits().exists(_._2 == 12L))
      assert(credits() === Set((1L, 11L, "ad"), (1L, 12L, "direct")),
        "expired state must attribute the post-idle conversion as direct")
    } finally q.stop()
  }

  test("Funnel.lastTouchFold: TTL expiry semantics — dropped state attributes direct") {
    // The pure per-batch core of lastTouchStream (a live
    // ProcessingTimeTimeout query busy-loops under the test harness's
    // interval-0 trigger — see the scaladoc's explicit-trigger note).
    val batch = Seq(
      FunnelEvent(1L, T0, 10L, "ad"), FunnelEvent(1L, T0 + Min, 11L, "purchase"),
      FunnelEvent(1L, T0 + 2 * Min, 12L, "purchase"))
    // Live state: touch carries across and within batches.
    val (credits, touch) = Funnel.lastTouchFold(1L, None, "purchase", batch)
    assert(credits.map(c => (c.event_id, c.touch)) === Seq((11L, "ad"), (12L, "ad")))
    assert(touch === Some("ad"))
    // After a TTL timeout the state is REMOVED (prior = None): the next
    // conversion attributes "direct" — the expired-window semantics.
    val (after, _) = Funnel.lastTouchFold(
      1L, None, "purchase", Seq(FunnelEvent(1L, T0 + 3 * Min, 13L, "purchase")))
    assert(after.map(c => (c.event_id, c.touch)) === Seq((13L, "direct")))
    // Un-expired prior state attributes the remembered touch.
    val (kept, _) = Funnel.lastTouchFold(
      1L, Some("email"), "purchase", Seq(FunnelEvent(1L, T0 + 3 * Min, 14L, "purchase")))
    assert(kept.map(c => (c.event_id, c.touch)) === Seq((14L, "email")))
  }

  test("Kafka source contract: binary key/value expand; topic/partition/offset pass through") {
    // The exact frame the Kafka DataSource presents (no broker in this
    // container — DESIGN.md; this pins the column contract KafkaJson.expand
    // must honor: key/value BINARY, plus the five passthrough metadata
    // columns, reference Key/Value variants ExpandJson.java:277-319).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val kafkaSchema = StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType)))
    val ts = new java.sql.Timestamp(1700000000000L)
    val rows = Seq(
      Row("""{"id": 7}""".getBytes("UTF-8"),
        """{"k": 42, "tag": "a"}""".getBytes("UTF-8"), "events", 0, 100L, ts, 0),
      Row(null,
        """{"k": -1, "tag": "b"}""".getBytes("UTF-8"), "events", 1, 5L, ts, 0))
    val kafka = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), kafkaSchema)

    val keySchema = StructType(Seq(StructField("id", IntegerType)))
    val out = graft.streaming.KafkaJson.expand(kafka, JsonTestSchemas.kv, Some(keySchema))

    // Column contract: same names, same order; only key/value retyped.
    assert(out.columns.toSeq ===
      Seq("key", "value", "topic", "partition", "offset", "timestamp", "timestampType"))
    assert(out.schema("key").dataType === keySchema)
    assert(out.schema("value").dataType === JsonTestSchemas.kv)
    val got = out.orderBy("offset").collect()
    // Null key (a keyless Kafka record) passes through as null — the
    // documented divergence from the reference's NPE.
    assert(got(0).isNullAt(0) && got(0).getStruct(1).getInt(0) === -1)
    assert(got(1).getStruct(0).getInt(0) === 7)
    assert(got(1).getStruct(1).getInt(0) === 42 && got(1).getStruct(1).getString(1) === "a")
    // Passthrough metadata columns are untouched.
    assert(got.map(r => (r.getString(2), r.getInt(3), r.getLong(4))).toSeq ===
      Seq(("events", 1, 5L), ("events", 0, 100L)))
  }

  test("Scd2Stream.changes: open-interval change feed equals the batch SCD2 history") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Key 1 transitions a->b->a across two batches with a no-op repeat in
    // between; key 2 exercises null transitions (null -> x counts, a
    // repeated null does not).
    val b1 = Seq(
      AttrEvent(1L, T0, 101L, "a"), AttrEvent(1L, T0 + Min, 102L, "a"),
      AttrEvent(2L, T0, 201L, null))
    val b2 = Seq(
      AttrEvent(1L, T0 + 2 * Min, 103L, "b"), AttrEvent(1L, T0 + 3 * Min, 104L, "a"),
      AttrEvent(2L, T0 + Min, 202L, null), AttrEvent(2L, T0 + 2 * Min, 203L, "x"))
    val in = MemoryStream[AttrEvent]
    val q = graft.streaming.Scd2Stream.changes(in.toDS()).writeStream
      .format("memory").queryName("scd2_changes").outputMode("append").start()
    runToCompletion(q, () => in.addData(b1), () => in.addData(b2))
    val got = spark.table("scd2_changes").as[Scd2Change].collect()
      .map(c => (c.key, c.version_n) -> (Option(c.attr).orNull, c.from_ts, c.from_event))
      .toMap
    // Batch reference: the same events through Cdc.scd2History, open
    // intervals only (valid_from + ordinal — the stream cannot know
    // valid_to at emission time).
    val batch = graft.functions.Cdc.scd2History(
        (b1 ++ b2).toDF("key", "ts", "event_id", "attr"),
        Seq("key"), Seq("ts", "event_id"), "attr")
      .selectExpr("key", "attr", "valid_from.ts", "valid_from.event_id", "version_n")
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (Option(r.getString(1)).orNull, r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === batch)
    assert(got((1L, 3L)) === (("a", T0 + 3 * Min, 104L)))
    assert(got((2L, 1L)) === ((null, T0, 201L)))
  }

  test("HllStream.registerStream: estimate parity with batch; replayed batches cannot inflate") {
    import graft.functions.Sketches
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_type")).as[(Long, String)].collect()
    val dir = java.nio.file.Files.createTempDirectory("hll_stream").toString + "/regs"
    val in = MemoryStream[(Long, String)]
    val writer = graft.streaming.HllStream.registerStream(
      in.toDF().toDF("user_id", "event_type"), col("user_id"),
      Seq("event_type"), dir)
    val q = writer.queryName("hll_reg_stream").start()
    val (b1, b2) = events.splitAt(events.length / 2)
    runToCompletion(q, () => in.addData(b1.toSeq), () => in.addData(b2.toSeq))
    def est = Sketches.readHllEstimate(spark, dir, Seq("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val streamed = est
    // Batch reference over the union of everything streamed: register
    // max-merge makes slice boundaries invisible.
    val batch = Sketches.hllDistinct(
        events.toSeq.toDF("user_id", "event_type"), col("user_id"), Seq("event_type"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed === batch && streamed.nonEmpty)
    // Replay: re-appending an already-ingested slice (an at-least-once
    // sink's duplicate delivery) must not move any estimate — the MAX
    // algebra, not sink coordination, is the idempotence.
    Sketches.appendHllRegisters(
      b1.toSeq.toDF("user_id", "event_type"), col("user_id"), Seq("event_type"), dir)
    assert(est === streamed)
  }
}

/** Shared fixed schemas for streaming tests. */
object JsonTestSchemas {
  import org.apache.spark.sql.types._
  val kv: StructType = StructType(Seq(
    StructField("k", IntegerType), StructField("tag", StringType)))
}
