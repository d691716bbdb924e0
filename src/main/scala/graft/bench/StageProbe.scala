package graft.bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Stage-level profile of one declared query: per-stage wall, task count,
  * aggregate task time, GC, shuffle bytes. Bench-side diagnostic used by the optimization rounds (guide §1/§7). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val qname = if (args.nonEmpty) args(0) else "dedup_clusters_retract"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.memory.storageFraction", "0.3")
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONFS", "")
    val b1 = extra.split(",").filter(_.contains("=")).foldLeft(b0) { (b, kv) =>
      val Array(k, v) = kv.split("=", 2); b.config(k, v)
    }
    val spark = graft.GraftSession.getOrCreate(b1)
    spark.sparkContext.setLogLevel("WARN")

    final case class St(var name: String = "", var submitted: Long = 0,
      var completed: Long = 0, var nTasks: Int = 0, var taskTime: Long = 0,
      var gc: Long = 0, var shRead: Long = 0, var shWrite: Long = 0,
      var input: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        // The long-form callsite (stageInfo.details) holds the user stack;
        // the first graft frame names the operator that created the stage —
        // far more readable than the anonymous AQE callsite short name.
        val graftFrame = e.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("StageProbe"))
          .map(_.trim.stripPrefix("at ")).getOrElse("")
        s.name = if (graftFrame.nonEmpty) graftFrame else e.stageInfo.name
        s.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
        s.completed = System.currentTimeMillis()
        s.nTasks = e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.getOrElseUpdate(e.stageId, St())
        val m = e.taskMetrics
        if (m != null) {
          s.taskTime += m.executorRunTime
          s.gc += m.jvmGCTime
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.input += m.inputMetrics.bytesRead
        }
      }
    }

    val fn = graft.SparkEntry.queries(qname)
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt)
    val dumpStages = sys.env.getOrElse("SPARK_GRAFT_STAGES", "1") == "1"
    // warmup
    spark.sharedState.cacheManager.clearCache()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val walls = (1 to iters).map { i =>
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      if (i == iters) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val wall = walls.sorted.apply(walls.size / 2)
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    println(f"[probe] $qname median=$wall%.2f s of ${walls.map(w => f"$w%.2f").mkString("/")}, stages(last)=${stages.size}")
    if (!dumpStages) { spark.stop(); return }
    var totTask = 0L
    stages.toSeq.sortBy(_._1).foreach { case (id, s) =>
      val w = (s.completed - s.submitted) / 1000.0
      totTask += s.taskTime
      println(f"[probe] stage=$id%4d wall=$w%6.2f tasks=${s.nTasks}%4d " +
        f"taskT=${s.taskTime / 1000.0}%7.2f gc=${s.gc / 1000.0}%5.2f " +
        f"shR=${s.shRead / 1e6}%8.2f shW=${s.shWrite / 1e6}%8.2f in=${s.input / 1e6}%8.2f  ${s.name.take(80)}")
    }
    println(f"[probe] total aggregate task time = ${totTask / 1000.0}%.2f s")
    spark.stop()
  }
}
