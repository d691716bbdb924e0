package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: one workload, one seed, one JVM.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * The run generates its inputs from the seed, makes one untimed warm-up
 * pass, then repeats whole timed passes while one more pass is expected to
 * bring their summed wall closer to `--seconds`. Caches are cleared and the heap is collected before every
 * pass, outside the timed wall. Every pass checks its outputs; a failed
 * check exits with code 3 and prints no result.
 *
 * The last stdout line is `PERFBENCH_RESULT <json>`: the end-to-end metrics
 * untraced, the per-layer metrics traced (`--trace 1`), whose spans are also
 * written to `<work>/trace-<workload>-<seed>.json`.
 */
object Main {
  /** Fixed engine shape: the same on every run of every commit. Three task
    * threads leave a core of a four-core host to the driver thread, the JIT
    * and the collector; measured, `local[3]` ran faster there than `local[4]`.
    * Inputs are written as 12 files and shuffles use 6 partitions, whole
    * waves of 3 tasks, so no wave runs a core short. */
  val Cores: Int = math.min(3, Runtime.getRuntime.availableProcessors)
  val ShufflePartitions = 6

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = new File(opt("work"), s"$workload-$seed")
    val status =
      try { run(workload, seed, seconds, trace, work); 0 }
      catch {
        case e: CheckFailed =>
          System.err.println(s"perfbench: check failed: ${e.getMessage}")
          3
      }
    System.exit(status)
  }

  def session(work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    graft.GraftSession.getOrCreate(b)
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, work: File): Unit = {
    deleteTree(work)
    work.mkdirs()
    val spark = session(work)
    try {
      val tracer = new Tracer(spark, trace)
      val ctx = new Ctx(spark, tracer, seed, work)
      val w: Workload = name match {
        case "expand"        => new ExpandWorkload(ctx)
        case "expand_json"   => new ExpandJsonWorkload(ctx)
        case "expand_stream" => new ExpandStreamWorkload(ctx)
        case "clean_docs"    => new CleanDocsWorkload(ctx)
        case "ann_search"    => new AnnSearchWorkload(ctx)
        case other           => sys.error(s"unknown workload: $other")
      }
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      def since = (System.currentTimeMillis - jvmStart) / 1e3
      val sessionS = since
      w.prepare()
      val prepareS = since
      quiesce(spark)
      w.pass() // warm-up: compiles the plans and warms the JIT, untimed
      val setupS = since
      System.err.println(f"perfbench: set-up $setupS%.2f s (session up at $sessionS%.2f s, " +
        f"inputs ready at $prepareS%.2f s)")
      tracer.drain()
      tracer.inTimed = true
      val passes = Vector.newBuilder[Pass]
      var timedNs, lastNs = 0L
      while (timedNs + lastNs / 2 < seconds * 1000000000L) {
        quiesce(spark)
        val p = w.pass()
        passes += p
        timedNs += p.wallNs
        lastNs = p.wallNs
      }
      val timed = passes.result()
      System.err.println("perfbench: timed passes (ms) " +
        timed.map(p => f"${p.wallNs / 1e6}%.0f").mkString(" "))
      tracer.drain()
      tracer.inTimed = false
      val records = timed.map(_.records).sum
      val wallS = timed.map(_.wallNs).sum / 1e9
      val units = timed.flatMap(_.unitMs)
      val metrics: Map[String, (Double, String)] =
        if (!trace) Map(
          "setup_s" -> (setupS, "s"),
          "rows_per_s" -> (records / wallS, "rows/s"),
          "unit_p50_ms" -> (Stats.median(units), "ms"),
          "peak_rss_mb" -> (peakRssMb(), "MB"))
        else {
          val s = tracer.timedStats
          val cached = spark.sparkContext.getRDDStorageInfo
          val n = units.size.toDouble
          val sparkLayer = Map(
            "spark.jobs" -> (s.jobs / n, "count"),
            "spark.stages" -> (s.stages / n, "count"),
            "spark.tasks" -> (s.tasks / n, "count"),
            "spark.analysis_ms" -> (s.analysisMs / n, "ms"),
            "spark.optimization_ms" -> (s.optimizationMs / n, "ms"),
            "spark.planning_ms" -> (s.planningMs / n, "ms"),
            "spark.executor_run_ms" -> (s.runMs / n, "ms"),
            "spark.executor_cpu_ms" -> (s.cpuNs / 1e6 / n, "ms"),
            "spark.gc_ms" -> (s.gcMs / n, "ms"),
            "spark.shuffle_write_mb" -> (s.shuffleWrite / 1048576.0 / n, "MB"),
            "spark.spill_mb" -> (s.spill / 1048576.0 / n, "MB"),
            "spark.input_mb" -> (s.input / 1048576.0 / n, "MB"),
            "spark.cached_mb_end" -> (cached.map(r => r.memSize + r.diskSize).sum / 1048576.0, "MB"))
          val layers = w.layerMetrics(timed) ++ tracer.span("bench.extras")(w.traceExtras()) ++
            Kernels.measure()
          val all = Layers.Defaults ++ layers.map { case (k, v) => k -> (v, Layers.unit(k)) } ++
            sparkLayer ++ Map(
              "trace.rows_per_s" -> (records / wallS, "rows/s"),
              "trace.spans" -> (tracer.spanCount.toDouble, "count"))
          tracer.write(new File(work.getParentFile, s"trace-$name-$seed.json").getAbsolutePath,
            Map("workload" -> name, "seed" -> seed, "setup_s" -> setupS,
              "cached_at_end" -> cached.map(r => s"${r.name} (${r.memSize + r.diskSize} B)").toSeq,
              "passes" -> timed.size, "units" -> units.size,
              "metrics" -> all.map { case (k, (v, _)) => k -> v }))
          all
        }
      val out = Map(
        "correct" -> true,
        "attempted" -> records,
        "failed" -> 0L,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      println("PERFBENCH_RESULT " + Json(out))
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      deleteTree(work)
    }
  }

  /** Releases what the last pass left cached and collects the heap, so each
    * pass starts from the same state. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
