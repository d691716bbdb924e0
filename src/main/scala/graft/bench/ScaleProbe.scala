package graft.bench

import graft.functions.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/**
 * Two-slice scale probe for the bucketed ANN stores (r12 verdict item 8):
 * duplicates the sf0.1 embeddings 1x/2x/4x/8x under synthetic ids, lands
 * each corpus in the cell-partitioned `writeIvfBucketed` layout (trained
 * centroids from the 1x corpus — the index definition does not re-train
 * as the corpus grows), and measures the DEFAULT and FILTERED probe reads:
 * wall time plus the scan's post-pruning file count and bytes
 * (FileSourceScanExec's numFiles/filesSize metrics — what the executors
 * actually open after cell partition pruning).
 *
 * The 100 TB claim under test: probing nProbe of |C| cells reads a FIXED
 * FRACTION of the store's files — scan bytes grow with the probed cells'
 * share of the corpus, never with unprobed cells — and the label
 * predicate composes at the same scan (row-group pushdown on the carried
 * metadata column). Results are recorded in BASELINE.md.
 *
 * Prints one JSON line per (face, multiplier).
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("WARN")
    // Small parquet row groups for the probe layouts (production default
    // 128 MB): the gate-SF corpus must land MULTIPLE row groups per cell
    // file or row-group pruning has nothing to skip and the pushdown
    // claim stays plan-shaped (the r13 BASELINE note). The write path
    // clusters rows by the carried meta column inside each cell, so each
    // row group's label min/max is tight — the shape a 100 TB cell has
    // at the real block size.
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 16 * 1024)
    spark.sparkContext.hadoopConfiguration.setInt("parquet.page.size", 4 * 1024)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.count()
    val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
      graft.SparkEntry.AnnDefaultCentroids, graft.SparkEntry.AnnDefaultIters)
    // A FIXED query set across multipliers: scan cost curves must isolate
    // corpus growth, not query-set growth.
    val queries = e.filter(col("vec_id") % 50 === 0)
    val base = java.nio.file.Files.createTempDirectory("graft-scaleprobe").toString

    // AQE hides stage subtrees from `collect` (QueryStageExec exposes no
    // children), so walk explicitly through adaptive plans and stages.
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val expand: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: expand.flatMap(allNodes)
    }

    def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      // collect(), not a noop write: a write command wraps the plan in a
      // NEW execution, leaving this queryExecution's metrics untouched.
      // The top-k result is queries×k rows — driver-safe.
      df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val scans = allNodes(df.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft-scaleprobe")) => f
      }
      (scans.map(_.metrics("numFiles").value).sum,
        scans.map(_.metrics("filesSize").value).sum, sec)
    }

    // ROW-GROUP-level scan bytes, from footer metadata: the sum of
    // compressed data bytes of the row groups a reader must scan — all
    // groups of the given files (unfiltered), or only the groups whose
    // `label` min/max statistics admit the predicate (filtered), which
    // is precisely the test parquet-mr's filterRowGroups applies before
    // any data page is read. Static and deterministic, unlike task
    // inputMetrics, which on the local filesystem count the parquet-mr
    // filtered-path streams but NOT the plain vectorized read path
    // (measured: an unfiltered full scan reports footer bytes only),
    // so the dynamic counter cannot compare the two paths honestly.
    def rgBytes(files: Seq[org.apache.hadoop.fs.Path],
        labelEq: Option[Int]): (Long, Long) = {
      val conf = spark.sessionState.newHadoopConf()
      var total = 0L
      var qual = 0L
      files.foreach { p =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try {
          val blocks = rd.getFooter.getBlocks
          var i = 0
          while (i < blocks.size()) {
            val b = blocks.get(i)
            val bytes = b.getCompressedSize
            total += bytes
            val admit = labelEq match {
              case None => true
              case Some(v) =>
                var ok = true
                var c = 0
                while (c < b.getColumns.size()) {
                  val cc = b.getColumns.get(c)
                  if (cc.getPath.toDotString == "label") {
                    val st = cc.getStatistics
                    if (st != null && st.hasNonNullValue) {
                      val mn = st.genericGetMin.asInstanceOf[Number].intValue()
                      val mx = st.genericGetMax.asInstanceOf[Number].intValue()
                      ok = v >= mn && v <= mx
                    }
                  }
                  c += 1
                }
                ok
            }
            if (admit) qual += bytes
            i += 1
          }
        } finally rd.close()
      }
      (total, qual)
    }

    def cellFiles(layout: String, cells: Seq[Long]): Seq[org.apache.hadoop.fs.Path] = {
      val conf = spark.sessionState.newHadoopConf()
      cells.flatMap { cid =>
        val d = new org.apache.hadoop.fs.Path(s"$layout/cell=$cid")
        val fs = d.getFileSystem(conf)
        if (!fs.exists(d)) Nil
        else fs.listStatus(d).toSeq.filter(f => f.isFile &&
          f.getPath.getName.endsWith(".parquet")).map(_.getPath)
      }
    }

    for (mult <- Seq(1, 2, 4, 8)) {
      val corpus = (0 until mult).map { k =>
        e.select((col("vec_id") + lit(k * n)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ union _)
      val path = s"$base/cells$mult"
      Similarity.writeIvfBucketed(corpus, "vec_id", "embedding", cents, path,
        metaCols = Seq("label"))
      def lsStore(p: String): (Long, Long) = {
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var c = 0L
        var b = 0L
        while (it.hasNext) {
          val f = it.next()
          // Data files only: the write-time stats ledger (_graft_stats)
          // is planner metadata, not part of the scannable store.
          if (f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.toString.contains("/_")) { c += 1; b += f.getLen }
        }
        (c, b)
      }
      val (totalFiles, storeBytes) = lsStore(path)
      // The memory story measured: the same corpus as a codes-only PQ
      // index (4 B of codes + id per vector vs 64 floats + id + norm).
      val pqPath = s"$base/pq$mult"
      Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", cents,
        Similarity.pqCodebook(4, 16, 16), 16, pqPath)
      val (_, pqBytes) = lsStore(pqPath)
      spark.sharedState.cacheManager.clearCache()
      // Pruning curve: ONE point-lookup query (the per-query cost a
      // serving path pays). A 40-query batch's probed-cell UNION covers
      // all 16 cells and hides pruning entirely — the batch numbers
      // below carry the throughput story instead.
      val one = e.filter(col("vec_id") === 0)
      val dflt = Similarity.ivfTopKFromBucketed(spark, path, one,
        "vec_id", "embedding", k = 5, cents, nProbe = 2)
      val (df1, db1, dt1) = scanStats(dflt)
      val filt = Similarity.ivfTopKFromBucketed(spark, path, one,
        "vec_id", "embedding", k = 5, cents, nProbe = 2,
        where = col("label") === 1)
      val (ff1, fb1, ft1) = scanStats(filt)
      // The row-group pruning measurement (the pruning x pushdown
      // composition, r13 verdict item 3): over the SAME probed cells'
      // files, the data bytes a reader must scan with no predicate vs
      // with the label predicate applied to each row group's min/max.
      // The write path clusters labels inside cells, so the filtered
      // bytes must sit strictly below the unfiltered at equal file
      // counts once files carry multiple row groups.
      val probedCells = one
        .select(col("embedding").as("qv"))
        .select(explode(Similarity.probeCells(cents, col("qv"),
          Similarity.norm2(col("qv")), 2).getField("cid")).as("cell"))
        .collect().map(_.getLong(0)).toSeq
      val pf = cellFiles(path, probedCells)
      val (rgTotal, _) = rgBytes(pf, None)
      val (_, rgQual) = rgBytes(pf, Some(1))
      // Batch throughput at the shipped default (40 queries, nProbe=8).
      val batch = Similarity.ivfTopKFromBucketed(spark, path, queries,
        "vec_id", "embedding", k = 5, cents, nProbe = graft.SparkEntry.AnnDefaultNProbe)
      val (bf1, bb1, bt1) = scanStats(batch)
      println(s"""SCALEPROBE {"mult":$mult,"rows":${n * mult},"store_files":$totalFiles,"store_bytes":$storeBytes,"pq_bytes":$pqBytes,""" +
        s""""one_np2":{"files":$df1,"bytes":$db1,"rg_bytes":$rgTotal,"sec":$dt1},""" +
        s""""one_np2_filtered":{"files":$ff1,"bytes":$fb1,"rg_bytes":$rgQual,"sec":$ft1},""" +
        s""""batch_np8":{"files":$bf1,"bytes":$bb1,"sec":$bt1}}""")
    }
    spark.stop()
  }
}
