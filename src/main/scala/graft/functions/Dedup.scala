package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextFunctions._

/**
 * Near-duplicate detection over a corpus `(id, text)` — the dedup family a
 * training-data pipeline needs, each designed around its shuffle profile at
 * 100 TB:
 *
 *  - '''exact''':   one hash-shuffle on the content (or content hash).
 *  - '''MinHash+LSH''': narrow signature computation, then a shuffle on
 *    (band, bandKey) whose buckets are tiny; candidate pairs are verified
 *    with exact Jaccard, so the output is exact over the candidate set and
 *    the only approximation is LSH recall (≈1 for J ≥ threshold with
 *    128 hashes / 32 bands — miss prob < 1e-15 at J=0.9).
 *  - '''prefix-filtered exact Jaccard''' (AllPairs/PPJoin-style): an exact
 *    algorithm whose join explodes only on the `|set|-⌈t|set|⌉+1` globally
 *    rarest shingles of each doc, not on every shingle — the inverted index
 *    stays near-linear instead of quadratic on common shingles.
 *  - '''SimHash''': 32-bit signature; pairs at Hamming ≤ d found by the
 *    pigeonhole band join (d+1 chunks — equal in at least one), verified
 *    exactly. With d=3 and 4 byte-chunks the candidate join is exact-recall.
 *
 * Hash families: SimHash signatures derive from the cross-engine md5-based
 * `xhash32` because the signature VALUE is oracle-visible (the oracle
 * replicates it). MinHash/ngram run on engine-internal XXH64 hashed-shingle
 * sets (half the shuffle width) — sound because their oracles check the
 * exact verified pair set (i, j, jaccard), never the signatures, and
 * hashed-set Jaccard equals string-set Jaccard absent an XXH64 collision
 * inside a pair's union (~1e-14; FastKernelSpec asserts corpus equality).
 */
object Dedup {

  /** Exact duplicate groups by content, hash-first: the aggregation groups
    * on a (xxhash64, md5, length) content digest computed map-side, so the
    * shuffle carries ~32 bytes per row — never the document text. Digest
    * equality is taken as content equality: two DIFFERENT texts group
    * together only if a 64-bit and an independent 128-bit hash AND the byte
    * length all collide (< 1e-50 per pair) — the identity-by-digest
    * convention of content-addressable storage. Null texts group together,
    * as with a direct `groupBy(text)`. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(
        xxhash64(col(textCol)).as("h64"),
        md5(col(textCol)).as("h128"),
        length(col(textCol)).as("len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** Exact Jaccard over distinct-shingle sets, evaluated only for the given
    * candidate pairs (i < j). `candidates` must have columns (i, j).
    * `shingled.sh` holds sorted 64-bit hashed shingles (see shingledDf), so
    * the verify join carries 8 B/element and the codegen'd long-merge
    * kernel applies; the value equals string-set
    * size(array_intersect)/size(array_union) absent an XXH64 collision
    * inside a pair's union (~1e-14 per pair; FastKernelSpec asserts
    * corpus-wide equality). */
  private def verifyJaccard(
      candidates: DataFrame,
      shingled: DataFrame,
      threshold: Double): DataFrame = {
    val a = shingled.select(col("id").as("i"), col("sh").as("sh_i"))
    val b = shingled.select(col("id").as("j"), col("sh").as("sh_j"))
    candidates
      .join(a, "i")
      .join(b, "j")
      .select(
        col("i"),
        col("j"),
        // Bounded kernel = verify-time suffix filter: early-exits (-1.0)
        // once a pair provably can't reach the threshold; identical
        // surviving pair set and values.
        FastText.jaccardSortedLongBounded(col("sh_i"), col("sh_j"), threshold).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // Non-nullable kernel output (FastText.hashedShinglesNN) so constraint
  // propagation can't re-run the shingle kernel inside the parquet scan;
  // the raw-column IsNotNull pushes down as a plain filter. The
  // parallelism guard is the lenient form: index builders accept composed
  // frames (a gated pipeline stage, a foreachBatch micro-batch) whose
  // parallelism a shuffle or the source already set.
  private[graft] def shingledDf(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    KernelInput.ensureParallelismIfScan(
      df.filter(col(textCol).isNotNull))
      .select(
        col(idCol).cast(LongType).as("id"),
        FastText.hashedShinglesNN(col(textCol), k).as("sh"))

  /** MinHash + LSH banding: near-dup pairs with Jaccard >= threshold.
    * numHashes must be divisible by bands. Output: (i, j, jaccard). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    minhashPairsFromIndex(
      buildMinhashIndex(df, idCol, textCol, shingleK, numHashes, bands), threshold)

  /** [[minhashPairs]] over an existing [[MinhashIndex]] — the persisted-
    * store face: when `idx` comes from [[readMinhashIndex]], the corpus is
    * never re-shingled and the md5-bound signature pipeline never re-runs;
    * the whole query is parquet scans over signature metadata. */
  def minhashPairsFromIndex(idx: MinhashIndex, threshold: Double): DataFrame = {
    // hint("merge"): with both self-join sides shuffled on the same keys,
    // the signature pipeline is planned ONCE and reused (ReusedExchange)
    // instead of recomputed per side — ~2× on the md5-bound sig cost. At
    // corpus scale the banded frame is far past broadcast size anyway, so
    // the sort-merge shape is also the honest 100 TB plan.
    val candidates = idx.banded
      .as("l").hint("merge")
      .join(idx.banded.as("r"), col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    verifyJaccard(candidates, idx.shingled, threshold)
  }

  /** Exact Jaccard self-join with prefix filtering: a pair with
    * J >= t must share one of the first |sh|-⌈t·|sh|⌉+1 shingles when both
    * docs order their shingles by ascending global frequency (rarest
    * first). The inverted-index join therefore only fans out on rare
    * shingles. Output: (i, j, jaccard), exact. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      threshold: Double = 0.7): DataFrame =
    ngramJaccardPairsFromShingled(shingledDf(df, idCol, textCol, shingleK), threshold)

  /** [[ngramJaccardPairs]] over an existing `(id, sh)` shingle frame — the
    * persisted-store face (pass [[MinhashIndex.shingled]] from
    * [[readMinhashIndex]]): the prefix/postings/verify pipeline evaluates
    * its input as cheap columnar scans instead of re-running the text
    * scan + shingle kernel per subtree. */
  def ngramJaccardPairsFromShingled(
      shingledIn: DataFrame,
      threshold: Double): DataFrame = {
    // Prefix positions are computed narrow (id, len, s only); arrays only
    // reappear in the final verify join on the deduped candidate pairs.
    // explode_outer for the same reason as buildMinhashIndex: the non-outer
    // form pushes an inferred `size(<shingle kernel>) > 0` into the scan.
    // Persists follow the ≥3-consumer rule (see
    // [[containmentPairsFromShingled]]): `shingled` feeds the explode and
    // both verify attachments (3 — persist); `exploded` here feeds ONLY
    // the frequency aggregate and the ordering join (2 — do NOT persist:
    // a round-12 7-iteration bracket measured the 2-consumer persist at
    // dedup_sweep 5.49 s vs 4.41 s without it, the round-11 verdict's
    // one open perf finding — cache materialization + storage-memory
    // pressure cost more than the one cheap re-explode it saved).
    // Contrast containmentPairsFromShingled, where `exploded` has THREE
    // consumers and its persist measurably pays.
    val shingled = shingledIn.persist()
    val exploded = shingled
      .select(col("id"), size(col("sh")).as("len"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    // Global document frequency per shingle — one agg shuffle, reused by the
    // ordering. Ties broken by the shingle text for determinism.
    val freq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ordered = exploded
      .join(freq, "s")
      .withColumn(
        "pos",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      // df stays on the row for the skew valve below (8 B against the
      // ~28 B row; the unsalted path drops it before its exchange).
      .select(col("id"), col("len"), col("s"), col("pos"), col("df"))
    // Prefix length = len - ceil(t*len) + 1 (~(1-t)·|sh| rarest-first rows
    // per doc). NOTE on the rejected alternative: carrying each doc's full
    // shingle set on its prefix rows (the Vernica MapReduce layout, so
    // verification runs inside the prefix join) loses badly on dense
    // shingle distributions — this synthetic corpus shares ~1000 distinct
    // shingles across all docs, so the prefix join emits ~10 collision
    // rows per candidate pair and array-carrying rows materialize ~100 GB
    // of joined-row traffic. Narrow collision rows + a distinct + two
    // array-attach joins on the ~10x-smaller pair set wins here and ties
    // on sparse (Zipfian, real-corpus) distributions.
    val prefix = ordered.filter(
      col("pos") <= col("len") - ceil(col("len") * threshold) + 1)
    // Positional filter (PPJoin): at the FIRST shared prefix element nothing
    // common precedes it (both lists share one global order), so overlap <=
    // 1 + min(la - pl, lb - pr); J >= t additionally needs overlap >=
    // t/(1+t) * (la + lb). A pair failing the bound on its first shared
    // element fails it on every later one, so filtering each row keeps
    // exactly the pairs that can still qualify — exact, no recall loss.
    val posBound =
      least(col("l.len") - col("l.pos"), col("r.len") - col("r.pos")) + 1 >=
        (col("l.len") + col("r.len")) * lit(threshold / (1 + threshold))
    // Length filter: J = I/U <= min(|A|,|B|)/max(|A|,|B|), so J >= t needs
    // min >= t·max — prunes size-mismatched pairs before the distinct and
    // the array-attaching verify joins.
    val lenBound =
      least(col("l.len"), col("r.len")) >= greatest(col("l.len"), col("r.len")) * lit(threshold)
    // Explicit-N repartition on the join key (N = the session's shuffle
    // parallelism — a conf, never a literal): AQE sizes post-shuffle
    // coalescing from the exchange's INPUT bytes and is blind to the
    // candidate join's fan-out — the round-15 stage profile showed the
    // join emitting a 64 MB pair stream from 6 coalesced tasks (1.8 s of
    // the query's 4.1 s wall on one under-parallel stage). Explicit-N
    // pins the width AQE would otherwise coalesce away.
    //
    // PERSISTED: the round-16 EXECUTED plan (plans/r16/dedup_ngram_
    // exec_before.txt) proved the round-15 "ONE exchange, both sides"
    // claim wrong at runtime — AQE materialized the two self-join sides
    // as two independent ShuffleQueryStages (no ReusedQueryStage), so the
    // whole freq + window prefix pipeline ran TWICE per query (two 881k-row
    // window stages in the stage profile). At 100 TB that is a full extra
    // corpus aggregation. The cached frame is the PREFIX slice only
    // (~(1-t)·|sh| rarest rows per doc — 267k rows / 10 MB at sf0.1), and
    // the cache preserves the hash(s) layout, so both join sides read one
    // build. The r15 "persist of `ordered` measured flat" rejection was
    // re-examined: it tested the persist WITH the duplicated downstream
    // window still in place; caching post-window, post-repartition removes
    // the duplication itself.
    val nPart = shingledIn.sparkSession.sessionState.conf.numShufflePartitions
    // SKEW VALVE (guide §2.5): the explicit-N exchange (and, since r16, the
    // cached frame it feeds) is invisible to AQE's OptimizeSkewedJoin, so a
    // shingle that is both COMMON (large posting list) and EARLY in its
    // documents' rarest-first prefixes (every other shingle of those docs
    // even more common — the dense-corpus shape) concentrates its entire
    // |postings|² candidate fan-out on one partition with no runtime
    // rescue: the r16 fixture measured max/median task time 18.3 on a
    // 4000-doc corpus with one df=2000 first-position marker. When
    // `spark.graft.dedup.selfJoinSaltDf` is set > 0, prefix rows whose
    // shingle frequency exceeds it are salted: the left side keys on
    // (s, xxhash64(id) mod N), the right side replicates ONLY those rows
    // across all N salts — every (a, b) pair still meets exactly once per
    // shared shingle (at a's salt), so the candidate set is identical (the
    // fixture spec asserts pair-set equality; max/median drops under 3).
    // DEFAULT OFF: whether any key can cross the threshold is a property
    // of the corpus, not the engine — the gate corpus tops out at df≈5k —
    // and the salted shape pays a second prefix exchange plus the hot-row
    // replication, which is pure overhead on a balanced corpus.
    val saltDf = shingledIn.sparkSession.conf
      .get("spark.graft.dedup.selfJoinSaltDf", "0").toLong
    val candidates = (if (saltDf <= 0) {
      val prefixWide = prefix.drop("df").repartition(nPart, col("s")).persist()
      prefixWide
        .as("l").hint("merge")
        .join(prefixWide.as("r"),
          col("l.s") === col("r.s") && col("l.id") < col("r.id") && posBound && lenBound)
    } else {
      val cached = prefix.persist()
      val hot = col("df") > saltDf
      val lSide = cached
        .withColumn("salt", when(hot, pmod(xxhash64(col("id")), lit(nPart.toLong)))
          .otherwise(lit(0L)))
        .repartition(nPart, col("s"), col("salt"))
      val rSide = cached
        .withColumn("salt", explode(
          when(hot, sequence(lit(0L), lit(nPart.toLong - 1))).otherwise(array(lit(0L)))))
        .repartition(nPart, col("s"), col("salt"))
      lSide.as("l")
        .join(rSide.as("r"),
          col("l.s") === col("r.s") && col("l.salt") === col("r.salt") &&
            col("l.id") < col("r.id") && posBound && lenBound)
    })
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    verifyJaccard(candidates, shingled, threshold)
  }

  /** Asymmetric set containment |S(i) ∩ S(j)| / |S(i)| >= threshold over
    * distinct char-shingle sets — the quote/subset detector: doc i whose
    * content is (nearly) wholly present in doc j, regardless of how much
    * MORE j contains. Jaccard misses exactly these pairs (a 10x-longer
    * containing doc caps J at ~0.1), which is why containment is its own
    * dedup family (C4/RefinedWeb use it for quote removal).
    *
    * Exact, never all-pairs: the contained side keeps only its
    * ⌈(1-t)·|S|⌉+1 RAREST shingles (global-frequency order — if containment
    * >= t, at most (1-t)·|S| of A's shingles are missing from B, so at
    * least one of that prefix is shared); the inverted-index join fans out
    * rare-shingle postings only. The containing side is the full posting
    * list but carries only (s, id, len) — 24 B rows, no text, no arrays —
    * and the length bound |S(j)| >= t·|S(i)| prunes before the distinct.
    * Verification re-attaches the sorted hashed-shingle arrays on the
    * deduped pair set and runs the early-exit merge kernel. Docs with
    * fewer than `minShingles` distinct shingles are not tested as the
    * contained side (near-empty sets are "contained" everywhere —
    * semantically noise, and their postings are the one unbounded fan-out).
    *
    * Output: (i, j, containment) — i contained in j; both directions of a
    * mutual near-equal pair appear. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      threshold: Double = 0.9,
      minShingles: Int = 8): DataFrame =
    containmentPairsFromShingled(
      shingledDf(df, idCol, textCol, shingleK), threshold, minShingles)

  /** [[containmentPairs]] over an existing `(id, sh)` shingle frame — the
    * persisted-store face. Off a store, every subtree reads columnar
    * metadata scans instead of re-running the text scan + shingle kernel
    * per consumer — the round-10 verdict's #1 efficiency finding, closed
    * by construction here. */
  def containmentPairsFromShingled(
      shingledIn: DataFrame,
      threshold: Double,
      minShingles: Int): DataFrame =
    containmentPairsFromShingledOwned(shingledIn, threshold, minShingles)._1

  /** Owner handles for a builder's internal persists. A builder whose
    * result is a LAZY plan cannot unpersist its own caches (they
    * materialize during the caller's action), so the caches need an
    * owner: the caller that runs the consuming action calls [[release]]
    * afterwards. Callers that instead rely on the harness-level
    * `cacheManager.clearCache()` (Bench/Verify do, between queries) may
    * drop the handles — repeated invocations over the SAME input frame
    * do not grow the cache meanwhile, because Spark's CacheManager
    * dedupes by canonicalized plan (CacheLifecycleSpec pins both the
    * flat-count and the release behavior). Note the dedupe's flip side:
    * handles over equivalent plans share one cache entry, so release()
    * frees it for every holder — release only when done with the plan. */
  final case class CacheHandles(cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  /** [[containmentPairsFromShingled]] with the persist-owner contract:
    * returns the pair frame plus [[CacheHandles]] over the two internal
    * persists for the caller to release after its consuming action. */
  def containmentPairsFromShingledOwned(
      shingledIn: DataFrame,
      threshold: Double,
      minShingles: Int): (DataFrame, CacheHandles) = {
    // Persist discipline: `shingled` has 3 consumers (the explode and
    // both verify attachments) — cache; `ordered` has 2 consumers
    // (prefix side, postings side) but its subtree is the freq join +
    // the full-corpus position window, which a re-evaluation pays twice
    // — a round-12 bracket measured the persist winning decisively as
    // part of the positional-filter rework (5.75 → 4.04 s median at
    // sf0.1).
    val shingled = shingledIn.persist()
    val exploded = shingled
      .select(col("id"), size(col("sh")).as("len"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val freq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // BOTH sides of the candidate join now carry the global-frequency
    // position (one id-keyed window over the exploded corpus — ~32 B
    // rows, no arrays), because the postings side's position powers the
    // containment POSITIONAL filter below.
    //
    // merge hint on the frequency attach: size ESTIMATES here see the
    // exploded side through a Generate (estimated ≈ its 7 MB input) and
    // the aggregated freq side as unknown-large, so the planner broadcast
    // the CORPUS-SCALE side — the round-16 executed plan showed an 80 MiB
    // / 881k-row BroadcastExchange of the exploded frame under a 732 KiB
    // freq side (plans/r16/contain_ngram_exec_before.txt, exchange (11)).
    // Neither side of this join is broadcastable at 100 TB (exploded is
    // corpus-scale, freq is vocabulary-scale), so the sort-merge shape is
    // also the honest production plan (guide §3.1: pick deliberately).
    val ordered = exploded
      .hint("merge")
      .join(freq, "s")
      .withColumn(
        "pos",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
      .select(col("s"), col("id"), col("len"), col("pos"))
      .persist()
    val prefix = ordered
      .filter(col("len") >= minShingles)
      .filter(col("pos") <= col("len") - ceil(col("len") * threshold) + 1)
    // Positional filter (the PPJoin move, containment form): both sides
    // order their shingles by the same global (df, s) rank, so at a
    // pair's FIRST shared element nothing common precedes it on either
    // side — overlap <= 1 + min(|A| - p_a, |B| - p_b), and containment
    // >= t needs overlap >= ceil(t·|A|). A qualifying pair's first
    // shared element provably lies in A's prefix (at most (1-t)·|A| of
    // A's shingles are missing from B) and passes the bound there, so
    // per-row filtering keeps exactly the pairs that can still qualify —
    // exact, no recall loss. Measured at sf0.1: collision rows 17.8M →
    // the verify pair set shrinks ~10× (near-equal-length pairs keep
    // only the last ~(1-t) of B's positions), containment family
    // 5.75 → 4.04 s median.
    val posBound =
      lit(1) + least(col("l.len") - col("l.pos"), col("r.len") - col("r.pos")) >=
        ceil(col("l.len") * lit(threshold))
    // No merge hint: the sides are genuinely different frames (rare prefix
    // vs full postings), so there is no exchange to share; AQE picks the
    // join shape from runtime sizes.
    val candidates = prefix.as("l")
      .join(ordered.as("r"),
        col("l.s") === col("r.s") && col("l.id") =!= col("r.id") &&
          col("r.len") >= col("l.len") * lit(threshold) && posBound)
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    val a = shingled.select(col("id").as("i"), col("sh").as("sh_i"))
    val b = shingled.select(col("id").as("j"), col("sh").as("sh_j"))
    val pairs = candidates
      .join(a, "i")
      .join(b, "j")
      .select(
        col("i"),
        col("j"),
        FastText.containmentSortedLongBounded(col("sh_i"), col("sh_j"), threshold)
          .as("containment"))
      .filter(col("containment") >= threshold)
    (pairs, CacheHandles(Seq(shingled, ordered)))
  }

  /** The persistable per-corpus dedup index: `shingled` (id, sh:
    * array<long> sorted hashed shingles — what exact verification needs)
    * and `banded` (id, band, key — what candidate generation needs).
    * Computing it is the expensive part of MinHash dedup; storing it is
    * what makes daily increments cheap (the corpus side is never
    * re-shingled). */
  final case class MinhashIndex(shingled: DataFrame, banded: DataFrame)

  /** Build the [[MinhashIndex]] for a corpus — one narrow pass. */
  def buildMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      numHashes: Int = 128,
      bands: Int = 32): MinhashIndex = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val shingled = shingledDf(df, idCol, textCol, shingleK)
    val sig = shingled.select(
      col("id"), FastText.minhashSig(col("sh"), numHashes).as("sig"))
    // posexplode_outer: the non-outer form makes Catalyst infer a
    // `size(<band-key kernel chain>) > 0` filter and push it into the
    // scan, re-evaluating the signature kernels there. Outer explode
    // infers nothing; the (never-occurring) null row dies in the
    // candidate equi-join.
    MinhashIndex(shingled, sig.select(
      col("id"),
      posexplode_outer(FastText.bandKeys(col("sig"), bands, numHashes / bands)).as(Seq("band", "key"))))
  }

  /** Persist an index as two parquet tables, `<path>/shingles` and
    * `<path>/bands`. At warehouse scale, partition `bands` by `band` and
    * bucket both tables by their join key (`key` / `id`) so the daily
    * candidate join and the verify joins co-locate without a shuffle of
    * the stored side; a daily increment then appends its own index here. */
  def writeMinhashIndex(index: MinhashIndex, path: String): Unit = {
    index.shingled.write.mode("overwrite").parquet(s"$path/shingles")
    index.banded.write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Append one increment's index slice (a daily crawl, a micro-batch) to
    * an existing store. Slices should be doc-disjoint; a REPLAYED slice
    * (at-least-once delivery) rewrites byte-identical rows that
    * [[readMinhashIndexDedup]]'s distinct collapses, so streaming ingest
    * is idempotent without a ledger — both tables are pure functions of
    * (id, text, index params). */
  def appendMinhashIndex(index: MinhashIndex, path: String): Unit = {
    index.shingled.write.mode("append").parquet(s"$path/shingles")
    index.banded.write.mode("append").parquet(s"$path/bands")
  }

  /** [[readMinhashIndex]] with replay-collapse: one distinct per table,
    * the read posture for stores fed by [[appendMinhashIndex]] under
    * at-least-once delivery (a single-writer oncePerDir store skips the
    * distinct — the copresenceEdges lesson). */
  def readMinhashIndexDedup(
      spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex =
    MinhashIndex(
      spark.read.parquet(s"$path/shingles").distinct(),
      spark.read.parquet(s"$path/bands").distinct())

  /** The threshold-calibration report over an exact near-dup pair frame
    * `(i, j, jaccard)`: pairs and distinct docs a dedup pass would touch
    * at each candidate threshold — the "which threshold do I ship"
    * evidence (the `dedup_sweep` gate entry, and the per-micro-batch
    * reading [[graft.streaming.SweepStream.dedupSweep]] emits). One
    * pair-frame explode + one map-side-combining aggregation per facet —
    * no second corpus pass. */
  def sweepReport(pairs: DataFrame, thresholds: Seq[Double]): DataFrame =
    pairs
      .select(col("i"), col("j"), col("jaccard"),
        explode(typedLit(thresholds)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .select(col("threshold"), explode(array(
        struct(col("i").as("d"), lit(1L).as("w")),
        struct(col("j").as("d"), lit(0L).as("w")))).as("x"))
      .groupBy(col("threshold"))
      .agg(sum(col("x.w")).as("n_pairs"),
        countDistinct(col("x.d")).as("n_docs"))

  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex =
    MinhashIndex(
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/bands"))

  /** Merge daily-increment indexes into one — the compaction step of the
    * build → write → (daily: build batch, pairsAcross, append) lifecycle.
    * Later sides win on id collisions (re-ingested documents take their
    * newest signature): both frames are keyed by `id`, so the merge is a
    * union + last-wins dedup, never a re-shingle of any corpus. Shuffles
    * carry only signature metadata (ids, hashes, band keys — the text was
    * never in the index to begin with). */
  def mergeMinhashIndexes(indexes: Seq[MinhashIndex]): MinhashIndex = {
    require(indexes.nonEmpty, "need at least one index")
    // Keep every row of each id's newest generation. The banded frame has
    // one row per (id, band); the shingled frame one row per id — the
    // max-age rule covers both (and unlike a row_number pick it can't
    // silently choose an arbitrary row if a malformed frame ever held
    // duplicate ids within one generation).
    def lastWins(frames: Seq[DataFrame]): DataFrame = {
      val tagged = frames.zipWithIndex
        .map { case (f, i) => f.withColumn("__age", lit(i)) }
        .reduce(_.unionByName(_))
      import org.apache.spark.sql.expressions.Window
      tagged
        .withColumn("__maxage", max(col("__age")).over(
          Window.partitionBy(col("id"))))
        .filter(col("__age") === col("__maxage"))
        .drop("__age", "__maxage")
    }
    MinhashIndex(
      lastWins(indexes.map(_.shingled)),
      lastWins(indexes.map(_.banded)))
  }

  /** Near-dup pairs BETWEEN two indexed corpora (never within either side):
    * banded equi-join candidates, exact hashed-shingle Jaccard verify.
    * Output (i = left id, j = right id, jaccard). */
  def minhashPairsAcross(
      left: MinhashIndex,
      right: MinhashIndex,
      threshold: Double): DataFrame = {
    val candidates = left.banded.as("l")
      .join(right.banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    val a = left.shingled.select(col("id").as("i"), col("sh").as("sh_i"))
    val b = right.shingled.select(col("id").as("j"), col("sh").as("sh_j"))
    candidates
      .join(a, "i")
      .join(b, "j")
      .select(col("i"), col("j"),
        FastText.jaccardSortedLong(col("sh_i"), col("sh_j")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash dedup: near-dup pairs BETWEEN a new batch and an
    * existing corpus (never within either side) — the production shape for
    * daily increments. The corpus side's index would be read from storage
    * via [[readMinhashIndex]] rather than recomputed (DedupSpec asserts
    * the persisted-index path is pair-identical); same banding and exact
    * verification as [[minhashPairs]]. Output (new_id, corpus_id,
    * jaccard). */
  def minhashPairsBetween(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    minhashPairsAcross(
      buildMinhashIndex(newDf, idCol, textCol, shingleK, numHashes, bands),
      buildMinhashIndex(corpusDf, idCol, textCol, shingleK, numHashes, bands),
      threshold)

  /** [[minhashPairsBetween]] for the case where both sides are slices of
    * ONE table, split by a predicate on the id: pairs between the
    * `isNew(id)` slice and its complement, never within either. Instead of
    * building two indexes (two scans + two signature pipelines over the
    * same table), this indexes the table once and pushes the side
    * predicates into a merge self-join — both sides shuffle identically,
    * so the scan, the signature kernels, and the band exchange all run
    * once (ReusedExchange) and the split happens post-shuffle. At corpus
    * scale that halves the dominant cost (the text scan + md5 signature
    * pass). Output (i = new id, j = corpus id, jaccard). */
  def minhashPairsSplit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isNew: Column => Column,
      shingleK: Int = 4,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    minhashPairsSplitFromIndex(
      buildMinhashIndex(df, idCol, textCol, shingleK, numHashes, bands),
      isNew, threshold)

  /** [[minhashPairsSplit]] over an existing [[MinhashIndex]] — the
    * persisted-store face (see [[minhashPairsFromIndex]]). */
  def minhashPairsSplitFromIndex(
      idx: MinhashIndex,
      isNew: Column => Column,
      threshold: Double): DataFrame = {
    val candidates = idx.banded
      .as("l").hint("merge")
      .join(idx.banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          isNew(col("l.id")) && !isNew(col("r.id")))
      .select(col("l.id").as("i"), col("r.id").as("j"))
      .distinct()
    verifyJaccard(candidates, idx.shingled, threshold)
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise output into "keep one document per duplicate cluster".
    *
    * Fixed-depth two-phase contraction, no driver-side loop and no
    * blocking action anywhere (the whole computation is one lazy plan):
    *
    *  1. '''Partition-local union-find''' over the edge partitions as they
    *     arrive (narrow `mapPartitions`, no shuffle): each partition emits
    *     `(node, label)` where `label` is the minimum node id of the
    *     node's component '''within that partition's subgraph'''. Each
    *     partition's edge set is exactly represented by this star forest,
    *     so global connectivity is preserved.
    *  2. '''Per-node contraction''' (one `groupBy(node)` shuffle): a node
    *     seen by several partitions has several labels — all provably in
    *     one component. Emit `(node, minLabel)` as the node's resolved
    *     row, plus boundary edges `(label, minLabel)` linking the node's
    *     other labels to it. Only nodes split across partitions produce
    *     boundary edges, so the boundary graph is tiny — O(cut nodes),
    *     not O(nodes).
    *  3. '''Single-task union-find''' over the boundary-label graph
    *     (`repartition(1)`, its own stage so the wide upstream keeps its
    *     parallelism), then a broadcast join maps every resolved label to
    *     its global component minimum.
    *
    * Exactness: labels are themselves node ids, and the global minimum m
    * of a component is a local minimum in every partition it appears in,
    * so m survives phase 1 as its own label; every other label of the
    * component chains to m through shared nodes, so phase 3's union-find
    * roots the whole component at m. Output: (id, cluster_id = min id in
    * component) for every id appearing in `pairs` — deterministic
    * regardless of input partitioning.
    *
    * At 100 TB: phases 1-2 are one narrow pass + one shuffle of O(nodes)
    * rows; the contraction is then applied a SECOND time to the boundary
    * graph itself, so the single fan-in task sees the boundary of the
    * boundary — on a pathological corpus whose dup components chain across
    * most partitions (cut = O(nodes)), the second level collapses each
    * task's chunk of the label graph before the fan-in; dup clusters in
    * practice are near-cliques where even the first boundary is a few rows
    * per cluster. The previous formulation (iterative hash-to-min label
    * propagation) converged in O(diameter) rounds but paid 2+ blocking
    * driver actions per round — on a latency-loaded cluster the
    * round-trips, not the data, dominated.
    */
  def duplicateClusters(pairs: DataFrame): DataFrame = duplicateClustersOwned(pairs)._1

  /** [[duplicateClusters]] with the persist-owner contract: returns the
    * cluster frame plus [[CacheHandles]] over both contraction levels'
    * persisted per-node frames, for the caller to release after its
    * consuming action. */
  def duplicateClustersOwned(pairs: DataFrame): (DataFrame, CacheHandles) = {
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val edges = pairs
      .select(col("i").cast(LongType), col("j").cast(LongType))
      .as[(Long, Long)](tup)
    val (r1, b1) = contractOnce(edges)
    // Second contraction level over the label graph: the fan-in input
    // shrinks from O(cut nodes) to O(cut of the cut). The label edges are
    // re-keyed by label into an AQE-coalescible hash exchange first: edges
    // sharing a label land in one partition (local union-find can actually
    // chain them), and at boundary sizes the coalescer collapses the tiny
    // exchange to a few partitions — level-2 contraction quality no longer
    // depends on how many partitions level 1 HAPPENED to leave behind
    // (with byNode cached, the boundary inherits the cache's full width;
    // DedupSpec's adversarial-path case measures the contraction ratio).
    // O(cut) metadata rows — never corpus-scale.
    val (r2, b2) = contractOnce(
      b1.repartition(col("l")).as[(Long, Long)](tup))
    val roots = b2.repartition(1)
      .mapPartitions(it => UnionFind.components(it))(tup)
      .toDF("lbl", "root")
    // Resolution chain: node -(L1)-> minl -(L2)-> minl2 -(fan-in)-> root.
    // A label absent from a later level was never a cut node there and
    // already holds its final value — hence the coalesces. The chain is
    // composed ENTIRELY IN THE LABEL DOMAIN first (r2 ⋈ roots — both
    // O(cut)-sized), so the big O(nodes) r1 side pays exactly ONE join;
    // round 5's formulation joined r1 twice (L2 map, then roots) and that
    // second full-width pass was ~2 s on every duplicateClusters caller
    // at sf0.1. roots is broadcast by contract (boundary-of-the-boundary);
    // labelRoot is un-hinted — AQE broadcasts it in the typical
    // near-clique case and shuffles a pathological one.
    val labelRoot = r2
      .join(broadcast(roots), r2("minl") === roots("lbl"), "left")
      .select(col("node").as("l"), coalesce(col("root"), col("minl")).as("rt"))
    val clusters = r1
      .join(labelRoot, r1("minl") === labelRoot("l"), "left")
      .select(
        col("node").as("id"),
        coalesce(col("rt"), col("minl")).as("cluster_id"))
    // Dependent first: level 2's cached plan reads level 1's cache.
    (clusters, CacheHandles(Seq(r2, r1)))
  }

  /** INCREMENTAL connected components — the daily-increment face of
    * [[duplicateClusters]]: fold yesterday's persisted ASSIGNMENT
    * `(id, cluster_id)` with today's new pair deltas without re-deriving
    * yesterday's pairs from text. Exact: the assignment is a star forest
    * whose edges preserve every prior component (each node connects to
    * its component's minimum, which is itself a node), so the union's
    * connectivity — and hence every min-id cluster label — equals
    * clustering over ALL pairs ever seen (DedupSpec pins the equality;
    * the `dedup_clusters_inc` gate runs the fold against the full-pair
    * oracle). Cost: the assignment side is one star row per previously
    * clustered node (metadata-scale next to the pair history it
    * replaces), and the contraction machinery is shared. */
  def duplicateClustersIncremental(
      assignment: DataFrame, newPairs: DataFrame): DataFrame =
    duplicateClusters(
      assignment.select(col("id").as("i"), col("cluster_id").as("j"))
        .unionByName(newPairs.select(col("i"), col("j"))))

  /** TAKEDOWN maintenance for a persisted cluster assignment — the
    * derived-artifact face of a document takedown: removing a node can
    * SPLIT its component (cut vertex) or relabel it (the component
    * minimum left), so unlike the incremental fold this cannot be a
    * union — but it also must not re-cluster the corpus. Only the
    * components CONTAINING a doomed doc re-cluster: their surviving
    * pairs re-run [[duplicateClusters]]; every other component's rows
    * pass through untouched. The touched-cluster set is
    * takedown-scale metadata; the joins stay un-hinted (the dedup_keep
    * rule: AQE broadcasts a small takedown and shuffles a pathological
    * one). Result equals `duplicateClusters(pairs among survivors)`
    * exactly (DedupSpec property over random splits; the
    * `dedup_clusters_retract` gate runs the full-closure oracle with
    * the doomed docs excluded). Singleton survivors — docs whose every
    * partner was taken down — leave the assignment, matching the
    * paired-docs-only contract.
    *
    * CALLER CONTRACT: `assignment` is consumed THREE times (touched /
    * keep / affected) — pass a cheap scan or a persisted frame, never a
    * bare expensive plan (the ≥3-consumer rule; an unpersisted
    * duplicateClusters argument re-runs its banded join + contraction
    * per consumer — measured 7.8 s vs ~3 s at sf0.1). The frame is
    * metadata-scale (one (id, cluster_id) row per clustered doc), so
    * persisting it is cheap. */
  def duplicateClustersRetract(
      assignment: DataFrame, pairs: DataFrame, doomedIds: DataFrame): DataFrame = {
    val doomed = doomedIds.select(col("id"))
    val touched = assignment.join(doomed, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val keep = assignment.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"))
    val affected = assignment.join(touched, Seq("cluster_id"), "left_semi")
      .join(doomed, Seq("id"), "left_anti")
      .select(col("id"))
    val survivingPairs = pairs
      .join(affected.select(col("id").as("i")), Seq("i"), "left_semi")
      .join(affected.select(col("id").as("j")), Seq("j"), "left_semi")
      .select(col("i"), col("j"))
    keep.unionByName(duplicateClusters(survivingPairs))
  }

  /** [[duplicateClustersRetract]] driven off the INDEX rather than a
    * materialized pair frame — the streaming-takedown shape: restricting
    * the index to the touched components' survivors FIRST means the
    * banded candidate join (the expensive step) runs over
    * takedown-scale docs, never the corpus; a pair-frame restriction
    * would re-derive the full corpus pair set just to throw most of it
    * away. Semantics identical (DedupSpec pins the equality). Same
    * caller contract as [[duplicateClustersRetract]]: `assignment` is
    * consumed three times — persist it. */
  def duplicateClustersRetractFromIndex(
      assignment: DataFrame,
      index: MinhashIndex,
      doomedIds: DataFrame,
      threshold: Double): DataFrame = {
    val doomed = doomedIds.select(col("id"))
    val touched = assignment.join(doomed, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val keep = assignment.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"))
    val affected = assignment.join(touched, Seq("cluster_id"), "left_semi")
      .join(doomed, Seq("id"), "left_anti")
      .select(col("id"))
    val sub = MinhashIndex(
      index.shingled.join(affected, Seq("id"), "left_semi"),
      index.banded.join(affected, Seq("id"), "left_semi"))
    keep.unionByName(duplicateClusters(
      minhashPairsFromIndex(sub, threshold).select(col("i"), col("j"))))
  }

  /** One union-find contraction level (phases 1-2 of [[duplicateClusters]]):
    * partition-local components, then a per-node merge. Returns
    * `(byNode, boundary)`: `byNode(node, minl, ls)` gives each node its
    * minimum label across partitions and is PERSISTED, owned by the
    * caller (see [[duplicateClustersOwned]]); `boundary` holds the
    * label-graph edges `(label, minLabel)` produced by nodes seen in
    * more than one partition — O(cut nodes), empty when no component
    * crosses a partition. */
  private[graft] def contractOnce(
      edges: org.apache.spark.sql.Dataset[(Long, Long)])
      : (DataFrame, org.apache.spark.sql.Dataset[(Long, Long)]) = {
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val local = edges.mapPartitions(it => UnionFind.components(it))(tup)
      .toDF("node", "lbl")
    // PERSISTED although it has only two consumers: column pruning pushes
    // each consumer's projection below the final aggregation (resolved
    // drops `ls`, boundary keeps it), so the two exchanges it would
    // otherwise plan are NOT canonically equal and nothing reuses — the
    // round-16 executed plans showed the ENTIRE upstream (the banded
    // candidate join + exact verify, the most expensive pipeline in every
    // duplicateClusters caller) materializing twice, once per consumer
    // (dedup_clusters stages 119/120 each re-reading the 16.7 MB candidate
    // exchange). The frame itself is one row per distinct node —
    // metadata-scale next to the pair pipeline it caps, the same
    // arithmetic that persists `assignment` in the retract callers.
    val byNode = local.groupBy(col("node"))
      .agg(min(col("lbl")).as("minl"), collect_set(col("lbl")).as("ls"))
      .persist()
    val boundary = byNode
      .select(col("minl"), explode(col("ls")).as("l"))
      .filter(col("l") =!= col("minl"))
      .select(col("l"), col("minl"))
      .as[(Long, Long)](tup)
    (byNode, boundary)
  }

  /** Keep one document per duplicate cluster: drops every row of `df` whose
    * id appears in `pairs`' connected components as a non-canonical member
    * (canonical = min id of the cluster). The anti-join is deliberately
    * UN-hinted: at real-world dup rates (20-50% of a training corpus) the
    * drop list is O(corpus) and must shuffle; at low dup rates AQE sees the
    * small runtime size and broadcasts it. A hard `broadcast(drop)` would
    * be a driver OOM on a high-dup corpus. */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = duplicateClusters(pairs).filter(col("id") =!= col("cluster_id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** In-memory union-find with union-by-min: the parent pointer always
    * points toward the smaller id, so `find` yields the minimum element of
    * the set. Used per-partition inside [[duplicateClusters]]. */
  private[graft] object UnionFind {
    /** Consume an edge iterator, return (element, min-of-component) for
      * every distinct element seen — the component star forest. */
    def components(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.map(k => (k, find(k)))
    }
  }

  /** SimHash near-dup pairs at Hamming distance <= maxHamming (exact recall
    * via the pigeonhole band join). Output: (i, j, hamming_dist). */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    // coalesce → non-nullable: otherwise the banded join's key constraints
    // push `isnotnull(simhash32(xhash32array(sortedshingles(text))))` into
    // the scan, running the whole signature chain twice per row.
    val sigs = KernelInput.ensureParallelismIfScan(df.filter(col(textCol).isNotNull))
      .select(
        col(idCol).cast(LongType).as("id"),
        coalesce(
          FastText.simhash32(FastText.xhash32Array(FastText.sortedShingles(col(textCol), shingleK))),
          lit(0L)).as("sig"))
    bandedHammingPairs(sigs, totalBits = 32, maxHamming = maxHamming)
  }

  /** Pigeonhole banded Hamming self-join shared by SimHash (text) and
    * dHash (`Multimodal.phashPairs`, images): Hamming <= d over d+1
    * chunks forces >= 1 equal chunk, so candidates come from a banded
    * equi-join — merge-hinted: ONE shared Exchange, the signature
    * pipeline plans once (see minhashPairs) — and the exact Hamming
    * filter runs BEFORE the dedup shuffle, so the distinct only carries
    * surviving near-pairs. Chunks cover the low
    * (d+1)·floor(totalBits/(d+1)) bits; any uncovered high bits only add
    * to hamming_dist, never to chunk equality, so recall is exact
    * regardless. Input: (id: long, sig: long non-nullable).
    * Output: (i, j, hamming_dist), i < j. */
  /** Quote/subset removal — the cleaning stage [[containmentPairs]] exists
    * for: drop every document whose shingle set is >= `threshold` contained
    * in some other document. Mutual near-equal pairs (contained both ways)
    * keep their min-id member, so a duplicate group never deletes itself
    * entirely; a strictly-contained doc drops regardless of id order.
    * The drop set is metadata-scale (ids only), and the final anti join is
    * deliberately un-hinted — AQE broadcasts it while it fits and falls
    * back to shuffle on a quote-heavy corpus (the dedup_keep lesson).
    *
    * Mutuality is decided by ONE groupBy on the canonicalized
    * (min, max) pair — per (a, b), a backward row (i > j) exists iff the
    * max-id member must drop (mutual pairs drop max; a backward-only row
    * IS its max-id member contained), else the pair's only row is forward
    * and its min-id member drops. The previous formulation joined the
    * pair set against its own REVERSAL, and since the reversed side
    * projects swapped columns below its join exchange, no ReusedExchange
    * applies — the entire containment pipeline planned and ran TWICE
    * (measured: quote_clean 11.5 s vs contain_ngram 6.2 s at sf0.1;
    * 6.0 s with the groupBy). */
  def dropContained(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 4,
      threshold: Double = 0.9,
      minShingles: Int = 8): DataFrame =
    dropContainedFromShingled(df, idCol,
      shingledDf(df, idCol, textCol, shingleK), threshold, minShingles)

  /** [[dropContained]] with the pair detection running off an existing
    * `(id, sh)` shingle frame (the persisted-store face) — only the final
    * anti-join touches `df` itself. */
  def dropContainedFromShingled(
      df: DataFrame,
      idCol: String,
      shingled: DataFrame,
      threshold: Double,
      minShingles: Int): DataFrame = {
    val p = containmentPairsFromShingled(shingled, threshold, minShingles)
      .select(col("i"), col("j"))
    val drops = p
      .groupBy(least(col("i"), col("j")).as("a"), greatest(col("i"), col("j")).as("b"))
      .agg(max(when(col("i") > col("j"), 1).otherwise(0)).as("bwd"))
      .select(when(col("bwd") === 1, col("b")).otherwise(col("a")).as("__drop_id"))
    df.join(drops, col(idCol) === col("__drop_id"), "left_anti")
  }

  private[graft] def bandedHammingPairs(
      sigs: DataFrame,
      totalBits: Int,
      maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(maxHamming >= 0 && chunks <= totalBits,
      s"need 0 <= maxHamming < totalBits chunks, got $maxHamming over $totalBits bits")
    val bitsPerChunk = totalBits / chunks
    // Full-width chunk (one chunk over 64 bits): 1L << 64 wraps to 1L in
    // Scala, which would zero the mask and collapse every signature into
    // ONE bucket (an all-pairs join). -1L is the correct 64-bit mask.
    val mask = if (bitsPerChunk >= 64) -1L else (1L << bitsPerChunk) - 1
    val banded = sigs.select(
      col("id"),
      col("sig"),
      posexplode(
        transform(
          sequence(lit(0), lit(chunks - 1)),
          c => call_function("shiftright", col("sig"), c * bitsPerChunk)
            .bitwiseAND(lit(mask)))).as(Seq("chunk", "ckey")))
    banded
      .as("l").hint("merge")
      .join(banded.as("r"), col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("i"), col("r.id").as("j"),
        hamming(col("l.sig"), col("r.sig")).as("hamming_dist"))
      .filter(col("hamming_dist") <= maxHamming)
      .distinct()
  }

  /** Cross-source duplication matrix at token-n-gram granularity: for
    * every unordered source pair (src_a < src_b), the number of distinct
    * word n-grams present in BOTH — the "which sources copy which"
    * observability report of the dedup family (mirrored sites, re-crawls,
    * boilerplate shared across crawls; the pairwise-source face of what
    * `decontaminate` measures corpus-vs-eval). Exact-document overlap is
    * the n → ∞ degenerate case, but real cross-source duplication is
    * span-level, which n-grams see and whole-document digests miss.
    *
    * 100 TB shape: n-grams are HASHED map-side (xhash32 of the joined
    * tokens — the exchange carries (hash, src), never text, the
    * exactGroups convention); one (hash, src) distinct whose row count is
    * Zipf-bounded by the distinct-gram inventory; the pair generation is
    * a hash-keyed SELF-join whose per-gram fan-out is bounded by the
    * SOURCE-inventory size (≤ |sources|² pairs per gram — metadata-scale
    * by construction, never corpus-scale), then one map-side-combining
    * pair count. Distinct-hash counting makes the result identical to a
    * DuckDB replica that hashes the same way (a raw-string count could
    * differ only through an xhash32 collision the oracle also makes). */
  def ngramSourceOverlap(
      df: DataFrame, textCol: String, srcCol: String, n: Int = 8): DataFrame =
    overlapMatrixFromGrams(gramInventory(df, textCol, srcCol, n))

  /** The distinct (gram-hash, source) inventory [[ngramSourceOverlap]]
    * joins — also the unit of persistence for the incremental face. */
  private[graft] def gramInventory(
      df: DataFrame, textCol: String, srcCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    // One codegen'd kernel per row (FastText.hashedWordGrams) — the HOF
    // transform+xhash32 form this replaces paid an interpreted md5 call
    // per gram (the round-1 bench-killer pattern); hash-equal, short
    // documents yield an empty array and explode drops them.
    //
    // The explicit repartition on the GRAM HASH alone is the
    // neighborFrame subset-partitioning move: hash(h) clusters (src, h)
    // for the distinct, AND it is exactly the layout the pair self-join
    // keys on — so the kernel pipeline plans ONCE (both join sides ride
    // a ReusedExchange of this frame, PlanSpec-gated) and the join adds
    // no exchange of its own. The trade (deliberate): the user exchange
    // forgoes the planner's map-side partial distinct, shuffling per-doc-
    // distinct rows — bought back double at the join, which would
    // otherwise re-exchange BOTH sides from (src, h) to (h).
    graft.functions.KernelInput.ensureParallelismIfScan(
        df.filter(col(textCol).isNotNull && col(srcCol).isNotNull))
      .select(col(srcCol).as("src"),
        explode(FastText.hashedWordGrams(col(textCol), n)).as("h"))
      .repartition(col("h"))
      .distinct()
  }

  private[graft] def overlapMatrixFromGrams(grams: DataFrame): DataFrame =
    grams.as("a")
      .join(grams.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** Persist the gram inventory for incremental cross-source overlap —
    * the log-structured-store pattern (LM counts, BM25 postings, HLL
    * registers), with the HLL store's OVERLAP-TOLERANT contract: the
    * stored unit is a SET row (src, h), merged by distinct-on-read, so
    * re-appending already-seen documents (re-crawls, replayed batches)
    * is idempotent — it cannot inflate `n_shared` the way a double
    * increment inflates an additive count store. Appends are raw
    * (distinct within the batch only); [[compactGramInventory]] rewrites
    * the accumulated slices as one deduplicated table. */
  def writeGramInventory(
      df: DataFrame, textCol: String, srcCol: String, path: String,
      n: Int = 8): Unit =
    gramInventory(df, textCol, srcCol, n).write.mode("overwrite").parquet(path)

  /** Append one increment (a new crawl slice) to the inventory. */
  def appendGramInventory(
      df: DataFrame, textCol: String, srcCol: String, path: String,
      n: Int = 8): Unit =
    gramInventory(df, textCol, srcCol, n).write.mode("append").parquet(path)

  /** The overlap matrix over everything ingested so far: distinct-on-read
    * set union of the slices, then the same bounded pair join as the
    * batch operator — bit-identical to [[ngramSourceOverlap]] over the
    * union of the ingested frames. */
  def overlapMatrixFromInventory(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    overlapMatrixFromGrams(spark.read.parquet(path).distinct())

  /** Rewrite accumulated slices as one deduplicated inventory. */
  def compactGramInventory(
      spark: org.apache.spark.sql.SparkSession, src: String, dest: String): Unit =
    spark.read.parquet(src).distinct().write.mode("overwrite").parquet(dest)
}
