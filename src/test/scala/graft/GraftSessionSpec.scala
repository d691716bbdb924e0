package graft

import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** The production session factory must pin the confs the operators (and
  * PlanSpec's gates) assume, and expose the graft_* SQL surface. */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  test("GraftSession pins the scale confs and registers graft_* functions") {
    spark // materialize the shared local[4] test session first
    // Applied to the existing test session (getOrCreate returns it).
    val s = GraftSession.getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    // The SQL kernel surface is callable after registration.
    val r = s.sql("SELECT size(graft_shingles('abcdef', 3)) AS n").collect()(0).getInt(0)
    assert(r == 4) // abc bcd cde def
  }

  test("the session's file:// FileSystem and FileContext are the fork-free local ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[graft.io.NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[graft.io.NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[graft.io.NioLocalFs])
    // The session's per-query Hadoop conf (what file sources and sinks use).
    val qconf = spark.sessionState.newHadoopConf()
    assert(FileContext.getLocalFSFileContext(qconf).getDefaultFileSystem.getClass ==
      classOf[graft.io.NioLocalFs])
  }
}
