package graft

import org.apache.spark.sql.SparkSession

/**
 * Production `SparkSession` factory — one place that encodes the conf
 * posture every operator in this library is designed (and PlanSpec-gated)
 * against, so a deployment can't silently run with the defenses off:
 *
 *  - '''AQE + skew-join splitting''': the un-hinted joins
 *    (`Dedup.keepCanonical`'s anti-join, `duplicateClusters`' label map,
 *    tfidf's Zipf-skewed tf↔df join) delegate broadcast-vs-shuffle and
 *    skew splitting to runtime statistics; both must be on (they are the
 *    Spark defaults, asserted here against accidental override).
 *  - '''Timezone pinned to UTC''': timestamp queries (`sessionize`,
 *    windowed aggregations) are reproducible across machines only with a
 *    fixed session zone.
 *  - '''Nanos-as-long parquet reads''': TIMESTAMP(NANOS) columns (the
 *    `events` table) are unreadable without the legacy conf.
 *  - '''`graft_*` SQL functions''' registered so `spark.sql("...")` users
 *    get the codegen'd kernels too.
 *  - '''A fork-free `file://` FileSystem''': without libhadoop, Hadoop's
 *    local FileSystem forks `chmod` for every file or directory it creates
 *    with a permission and `readlink` for every `FileContext` rename: about
 *    36 processes per streaming micro-batch (its offset, commit, source and
 *    sink logs), one after another on the stream's thread.
 *    [[graft.io.NioLocalFileSystem]] and [[graft.io.NioLocalFs]] do both in
 *    process, with the same results and `.crc` checksums; other schemes
 *    are untouched. Spark copies `spark.hadoop.*` into the Hadoop conf only
 *    when it creates the `SparkContext`, and Hadoop caches the `file`
 *    FileSystem once per JVM, so a session created before `GraftSession`
 *    configures one keeps Hadoop's own class.
 *
 * Deliberately NOT set: `spark.sql.shuffle.partitions` — single-machine
 * harnesses (`Bench`, `Verify`, tests) pin it to their core count, but on
 * a cluster the right value tracks executors × cores (or AQE coalescing
 * from a high initial value); a library hard-coding it would fight the
 * deployment. Sizing guidance lives in DESIGN.md.
 */
object GraftSession {

  /** Apply graft's required confs + function registration to a builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)

  /** Build (or get) the session and register the `graft_*` SQL surface. */
  def getOrCreate(b: SparkSession.Builder = SparkSession.builder()): SparkSession = {
    val spark = configure(b).getOrCreate()
    graft.sparkbridge.GraftSqlFunctions.register(spark)
    spark
  }
}
