package graft

import graft.sources.JsonLines
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class JsonLinesSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def withJsonl(lines: Seq[String])(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile
    try {
      val p = new java.io.File(dir, "data.jsonl")
      java.nio.file.Files.write(p.toPath, lines.mkString("\n").getBytes("UTF-8"))
      f(p.getAbsolutePath)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("reference inference, not Spark's: small ints are int32, big ints are string") {
    withJsonl(Seq(
      """{"small": 7, "big": 12345678901234567890123, "text": "x"}""",
      """{"small": -3, "big": 1, "text": "y"}""")) { path =>
      // Spark's own reader widens small -> bigint and big -> decimal/double.
      val sparkOwn = spark.read.json(path).schema
      assert(sparkOwn("small").dataType === LongType)
      // Ours follows the reference ladder (int32; BigInteger -> string).
      val df = JsonLines.read(spark, path)
      assert(df.schema("small").dataType === IntegerType)
      assert(df.schema("big").dataType === StringType)
      val rows = df.select("small", "big").as[(Int, String)].collect().toSet
      assert(rows === Set((7, "12345678901234567890123"), (-3, "1")))
    }
  }

  test("Merge mode widens across lines; FirstRow replicates first-record-wins") {
    withJsonl(Seq("""{"k": 1}""", """{"k": 99999999999}""")) { path =>
      assert(JsonLines.read(spark, path).schema("k").dataType === LongType)
      val first = JsonLines.inferSchema(spark, path,
        mode = graft.schema.JsonSchemaInference.FirstRow).get.asInstanceOf[StructType]
      assert(first("k").dataType === IntegerType)
    }
  }

  test("inference samples every file: a field present only in a later, small file is kept") {
    // Seven files of 1,100 lines each fill a 1,024-line sample by
    // themselves; `extra` occurs only in the eighth and smallest file,
    // which the size-ordered scan places in its last split.
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toFile
    try {
      for (f <- 0 until 7)
        java.nio.file.Files.write(new java.io.File(dir, s"part-$f.jsonl").toPath,
          (0 until 1100).map(i => s"""{"k": $i}""").mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(new java.io.File(dir, "part-7.jsonl").toPath,
        Seq("""{"k": 1, "extra": {"code": 3}}""", """{"k": 2}""").mkString("\n").getBytes("UTF-8"))
      val df = JsonLines.read(spark, dir.getAbsolutePath)
      assert(df.schema.fieldNames.toSet === Set("k", "extra"))
      assert(df.count() === 7 * 1100 + 2)
      assert(df.filter($"extra.code" === 3).count() === 1)
      val inferred = JsonLines.inferSchema(spark, dir.getAbsolutePath).get.asInstanceOf[StructType]
      assert(inferred.fieldNames.toSet === Set("k", "extra"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
