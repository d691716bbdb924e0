package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Streaming ingestion faces for the remaining log-structured stores —
 * one thin per-micro-batch appender per store, completing the pattern
 * [[GraphStream]] / [[AnnStream]] / [[HllStream]] set: every expensive
 * derived artifact (signatures, postings, counts, inventories) can
 * accumulate from an unbounded stream with ALL state in storage, none in
 * the state store, and the batch reader sees every slice ingested so far.
 *
 * Two algebras, ONE replay posture — idempotent either way:
 *  - SET stores (gram inventory, MinHash index): the stored unit is a
 *    set row merged by distinct-on-read — replayed batches
 *    (at-least-once delivery, checkpoint recovery) are IDEMPOTENT.
 *  - ADDITIVE stores (LM counts, NB counts, BM25 postings, emb stats):
 *    slices SUM on read, so disjoint increments compose exactly — and
 *    since Spark does NOT skip a re-delivered foreachBatch id (checkpoint
 *    recovery re-executes the last uncommitted batch with the SAME id),
 *    every additive sink here tags its slice with that id
 *    ([[graft.functions.StoreLedger]]): the replayed slice rewrites
 *    byte-identical tagged rows the read side's distinct collapses.
 *
 * Empty batches append nothing (no zero-row parquet files accumulate
 * under restart loops).
 */
object StoreIngest {

  private def ingest(stream: DataFrame)(
      append: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) append(batch)
    }

  /** Cross-source gram-inventory ingestion (SET algebra; feeds
    * [[graft.functions.Dedup.overlapMatrixFromInventory]]). */
  def gramInventory(
      stream: DataFrame, textCol: String, srcCol: String, path: String,
      n: Int = 8): DataStreamWriter[Row] =
    ingest(stream)(b =>
      graft.functions.Dedup.appendGramInventory(b, textCol, srcCol, path, n))

  /** foreachBatch wrapper that forwards the replay-stable micro-batch id
    * to a [[graft.functions.StoreLedger]]-tagged append. */
  private def ingestTagged(stream: DataFrame)(
      append: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) append(batch, id)
    }

  /** Bigram-LM count ingestion (ADDITIVE algebra, batch-id ledger; feeds
    * [[graft.functions.LangModel.readLm]] / the LmStream scoring face). */
  def lmCounts(
      stream: DataFrame, idCol: String, textCol: String, path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.LangModel.appendLmCounts(b, idCol, textCol, path, id))

  /** Naive-Bayes count ingestion (ADDITIVE algebra, batch-id ledger; feeds
    * [[graft.functions.NaiveBayes.readNb]] / the NbStream scoring face). */
  def nbCounts(
      stream: DataFrame, labelCol: String, textCol: String, path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.NaiveBayes.appendNbCounts(b, labelCol, textCol, path, id))

  /** BM25 posting ingestion (ADDITIVE algebra, batch-id ledger; feeds
    * [[graft.functions.Retrieval]]'s index reader). */
  def bm25Postings(
      stream: DataFrame, idCol: String, textCol: String, path: String,
      buckets: Int = 256): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.Retrieval.appendBm25Index(b, idCol, textCol, path, buckets, id))

  /** Takedown STREAMS for the additive stores — the live face of the
    * GDPR path: each micro-batch of DOOMED documents appends a
    * ledger-tagged DECREMENT slice (negated counts; see
    * [[graft.functions.LangModel.appendLmCountsNegated]] for the
    * algebra), so the read-side model tracks "as if never trained on"
    * batch by batch, replays collapsing like any slice. The batch id is
    * tagged with [[TakedownIdBit]]: a takedown stream's foreachBatch ids
    * restart from 0 like any stream's, and an UNTAGGED id could collide
    * with the insert stream's id space — two DIFFERENT takedown streams
    * re-tombstoning the same docs under one raw id would collapse in the
    * ledger and silently UNDER-decrement. The high-bit offset keeps the
    * two id clocks disjoint while staying replay-stable. */
  val TakedownIdBit: Long = 1L << 62

  def lmTakedowns(
      stream: DataFrame, idCol: String, textCol: String, path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.LangModel.appendLmCountsNegated(
        b, idCol, textCol, path, id | TakedownIdBit))

  def bm25Takedowns(
      stream: DataFrame, idCol: String, textCol: String, path: String,
      buckets: Int = 256): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.Retrieval.appendBm25Decrement(
        b, idCol, textCol, path, buckets, id | TakedownIdBit))

  /** Embedding-drift reference ingestion (ADDITIVE algebra, batch-id
    * ledger — the prototype the other additive sinks generalized). */
  def embStats(
      stream: DataFrame, vecCol: String, path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.Drift.appendEmbStats(b, vecCol, path, id))

  /** MinHash dedup-index ingestion (SET-like algebra: both index tables
    * are pure functions of (id, text) and the index params, so a
    * replayed batch rewrites byte-identical rows that
    * [[graft.functions.Dedup.readMinhashIndexDedup]]'s distinct
    * collapses). The batch is shingled and signed ONCE, here — every
    * later dedup query over the store is columnar metadata scans. The
    * sweep-reading variant lives at [[SweepStream.dedupSweep]]. */
  def minhashIndex(
      stream: DataFrame, idCol: String, textCol: String, path: String,
      shingleK: Int = 4, numHashes: Int = 128, bands: Int = 32): DataStreamWriter[Row] =
    ingest(stream)(b =>
      graft.functions.Dedup.appendMinhashIndex(
        graft.functions.Dedup.buildMinhashIndex(
          b, idCol, textCol, shingleK, numHashes, bands), path))

  /** Generic set-log ingestion ([[graft.functions.StoreLog]] LWW
    * algebra): every micro-batch appends an INSERT slice with the
    * foreachBatch id as its generation — replay-stable (redelivered
    * batches re-tag identical rows), later batches outrank earlier ones.
    * Takedowns follow [[graphEdgeOps]]'s id-clock rule: batch-side
    * `StoreLog.appendTombstones` at a generation above the stream's ids,
    * or a mixed foreachBatch calling insert/tombstone under ONE id —
    * never a second stream with an unrelated id sequence. */
  def setLogInserts(stream: DataFrame, path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.StoreLog.appendInserts(b, path, id))

  /** IVF-PQ compressed-index ingestion (stable-payload per-id algebra —
    * replayed slices collapse in the read side's per-vec_id dedup;
    * centroids + codebook are the index definition, fixed before the
    * stream starts, the [[AnnStream]] contract on the PQ face). */
  def ivfPqCodes(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Long, Vector[Double])],
      cb: Array[Array[Vector[Double]]],
      subDim: Int,
      path: String): DataStreamWriter[Row] =
    ingest(stream)(b =>
      graft.functions.Similarity.appendIvfPqIndex(b, idCol, vecCol, cents, cb, subDim, path))

  /** Edge-log ingestion with tombstones (last-writer-wins algebra —
    * [[graft.functions.Graph.readGraphEdgeLog]]): the foreachBatch id IS
    * the generation — replay-stable, so a redelivered batch re-tags
    * byte-identical rows (idempotent), and later batches outrank earlier
    * ones. The generation ordering is only meaningful WITHIN one stream's
    * id sequence: takedowns should ride the same stream as inserts (for a
    * mixed stream, write a foreachBatch that calls
    * `Graph.appendGraphEdgeOps` once per op sub-frame under the SAME
    * batch id), not a second stream with an unrelated id clock. */
  def graphEdgeOps(
      stream: DataFrame, uCol: String, vCol: String, path: String,
      delete: Boolean = false): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.Graph.appendGraphEdgeOps(b, uCol, vCol, path, id, delete))

  /** Basket-membership ingestion into the LOG-structured store
    * ([[graft.functions.Affinity.appendBasketItemOps]] — LWW set algebra
    * keyed (basket, item), the takedown-capable face of the plain
    * basket-items set store). The micro-batch id is the generation, so a
    * checkpoint-recovery replay re-tags the same gen — idempotent under
    * the log's max-struct win. Basket takedowns land batch-side via
    * [[graft.functions.Affinity.tombstoneBaskets]] at a generation above
    * the stream's ([[graphEdgeOps]]'s id-clock rule). */
  def basketItemOps(
      stream: DataFrame, basketCol: String, itemCol: String,
      path: String): DataStreamWriter[Row] =
    ingestTagged(stream)((b, id) =>
      graft.functions.Affinity.appendBasketItemOps(b, basketCol, itemCol, path, id))

  /** SQ8 code-table ingestion (stable-payload per-id algebra; the
    * (mins, maxs) grid is the index definition — out-of-range appends
    * clamp, the documented SQ saturation). */
  def sqCodes(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      mins: Vector[Double],
      maxs: Vector[Double],
      path: String): DataStreamWriter[Row] =
    ingest(stream)(b =>
      graft.functions.Similarity.appendSqIndex(b, idCol, vecCol, mins, maxs, path))
}
