package graft.bench

import org.apache.spark.sql.SparkSession

/**
 * Dumps `.explain("formatted")` for declared queries into a directory —
 * the optimization rounds' evidence trail (plans/rNN/<query>_<tag>.txt).
 *
 * Usage: runMain graft.bench.PlanDump <outDir> <tag> [query...]
 * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (local cores),
 * SPARK_GRAFT_EXEC=1 to EXECUTE each query (noop-sink action on the same
 * QueryExecution) first and dump the AQE-final plan (`isFinalPlan=true`,
 * ReusedQueryStage visible) instead of the static one.
 *
 * Plans are captured at plan time (no execution) unless EXEC=1; queries
 * that build plan-time artifacts (persisted stores via oncePerDir,
 * collected metadata-scale literals) run those builds exactly as
 * Bench/Verify do. Exits nonzero if any requested query fails to plan —
 * an evidence run must not silently produce an incomplete directory.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query...]")
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val exec = sys.env.getOrElse("SPARK_GRAFT_EXEC", "0") == "1"
    val spark = graft.GraftSession.getOrCreate(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.memory.storageFraction", "0.3"))
    spark.sparkContext.setLogLevel("WARN")
    val only = args.drop(2).toSet
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    names.foreach { name =>
      val out = new java.io.File(outDir, s"${name}_$tag.txt")
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // Execute on df's OWN QueryExecution (collect, not a write — the
        // write path plans a separate QE) so the adaptive plan it holds is
        // the final, executed one, ReusedQueryStage and all.
        if (exec) df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(out, "UTF-8")
        try w.write(plan) finally w.close()
        println(s"[plandump] $name -> ${out.getPath}")
      } catch {
        case e: Throwable =>
          failed ::= name
          println(s"[plandump] FAIL $name: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[plandump] FAILED ${failed.size}: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
