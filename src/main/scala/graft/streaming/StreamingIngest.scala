package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.store.EdgeStore

/** Structured-Streaming ingestion of the write pipeline (reference W1-W4, SURVEY.md §2.8):
  * the reference queues writes in kestrel and applies them asynchronously with
  * at-least-once replay; idempotence + commutativity of the LWW merge make replay safe
  * (`doc/blog.md:67-130`). Here the queue is any streaming source and each micro-batch is
  * folded into the store with the same merge — `foreachBatch` gives exactly-once per
  * batch, and even under replay the merge converges (that's FlockDB's out-of-order story:
  * late data is handled by LWW, not by watermarks).
  *
  * The accumulated log is compacted every `compactEvery` batches (snapshot replaces log)
  * so state stays bounded by |edges|, not by |writes|.
  */
final class StreamingEdgeIngest(initial: EdgeStore, compactEvery: Int = 8) {

  @volatile private var store: EdgeStore = initial

  /** Current consistent view (replaced atomically per micro-batch). */
  def current: EdgeStore = store

  /** Attach to a stream of raw edge writes (columns: graph_id, source_id,
    * destination_id, position, updated_at, count, state). Caller starts the returned
    * writer. The vertex-register log rides along untouched (raw edge rows are the
    * replication/copy stream — they never carry vertex ops).
    */
  def writer(writes: DataFrame): DataStreamWriter[Row] =
    writes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val merged = new EdgeStore(
          store.log.unionByName(batch.select(EdgeStore.edgeCols: _*)), store.vertexLog)
        store =
          if (batchId % compactEvery == compactEvery - 1)
            // compact: LWW-collapse the log so it doesn't grow with write volume
            new EdgeStore(merged.snapshot.localCheckpoint(eager = true), store.vertexLog)
          else merged
      }

  def start(writes: DataFrame): StreamingQuery = writer(writes).start()

  /** Attach to a stream of write OPERATIONS (the reference's execute pipeline as a
    * stream: columns graph_id, source_id, destination_id (null = wildcard), state,
    * updated_at, position, optional is_forward). Each micro-batch runs the full write
    * semantics — vertex-register writes, direction normalization, W2 state domination,
    * wildcard fanout — via `EdgeStore.applyOperations`. It compacts nothing: each
    * micro-batch's rows join the store's driver-held delta, and a batch that would pass
    * `EdgeStore.DeltaMax` rows first flushes the delta, unfolded, into the store's one
    * checkpointed segment. The plan stays base ∪ segment ∪ delta however many batches
    * arrive, and every cut stays answerable; `compactEvery` does not apply here, and
    * folding the log is `EdgeStorage.compact`'s job.
    */
  def opsWriter(ops: DataFrame): DataStreamWriter[Row] =
    ops.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store = store.applyOperations(batch)
      }

  def startOps(ops: DataFrame): StreamingQuery = opsWriter(ops).start()
}

/** The reference's error-queue mechanics (W4) made batch-native: writes that fail are
  * re-tried through the SAME code path as the initial attempt, and records that cycle
  * through the error queue too many times are dumped to a dead-letter relation for
  * manual inspection and optional re-injection — the reference queues failures into a
  * separate kestrel queue that is periodically flushed back into the write queue, and
  * "write operations that cycle through the error queue too many times are dumped into
  * a log for manual inspection … we can fix it, and re-inject the job"
  * (`doc/blog.md:110-130`); the retry bound is `errorLimit` (`config/test.scala:96`).
  *
  * Mapping to Structured Streaming:
  *   - the error queue is a RELATION (`retryQueue`: edge columns + failed-attempt
  *     count), folded into the NEXT micro-batch's work alongside incoming data — so
  *     a retry rides the identical LWW fold as a first attempt and retries never
  *     starve behind new arrivals;
  *   - `flushRetries()` is the reference's periodic error-queue flush for quiet
  *     streams (a micro-batch with no incoming data that only re-attempts the queue);
  *   - after [[maxAttempts]] FAILED tries a record lands in `deadLetters` with its
  *     failure reason and attempt count; [[reinject]] moves matching dead letters
  *     back into the queue with the counter reset (the manual re-inject lever);
  *   - what "fails" is decided by the injectable `reject` predicate — a Column
  *     yielding a reason string (or null = accepted) evaluated over the pending
  *     relation INCLUDING its `__attempts` column, so tests model transient outages
  *     ("fail while attempts < 2") and production models semantic rejects
  *     ([[RetryingEdgeIngest.invalidEdge]]); environmental failures that throw
  *     wholesale are covered by Structured Streaming's own at-least-once replay plus
  *     LWW idempotence, which this class inherits from [[StreamingEdgeIngest]]'s
  *     design.
  *
  * State stays bounded: the queue holds at most in-flight-failure rows (each for at
  * most [[maxAttempts]] batches), dead letters grow only with permanently-bad volume
  * (it IS the audit log), and both are localCheckpoint'd per batch so lineage never
  * chains across micro-batches. Reference retry PRIORITIES remain N/A-batch: priority
  * orders queue SERVICE, and here every queued record is serviced every batch; LWW
  * commutativity makes application order immaterial to convergence (SURVEY.md §2.8).
  */
final class RetryingEdgeIngest(
    initial: EdgeStore,
    maxAttempts: Int = 3,
    compactEvery: Int = 8,
    reject: DataFrame => org.apache.spark.sql.Column = RetryingEdgeIngest.invalidEdge) {
  import org.apache.spark.sql.functions._

  @volatile private var store: EdgeStore = initial
  @volatile private var retryLog: DataFrame =
    initial.log.select(EdgeStore.edgeCols: _*).limit(0).withColumn("__attempts", lit(0))
  @volatile private var deadLog: DataFrame =
    retryLog.withColumnRenamed("__attempts", "attempts")
      .withColumn("reason", lit("").cast("string")).limit(0)
  private var batchSeq: Long = 0L

  def current: EdgeStore = store
  /** Error queue: edge columns + `__attempts` (failed tries so far). */
  def retryQueue: DataFrame = retryLog
  /** Records that failed [[maxAttempts]] times: edge columns + attempts + reason. */
  def deadLetters: DataFrame = deadLog

  private def processBatch(incoming: Option[DataFrame]): Unit = synchronized {
    val fresh = incoming.map(_.select(EdgeStore.edgeCols: _*).withColumn("__attempts", lit(0)))
    val pending = fresh.map(_.unionByName(retryLog)).getOrElse(retryLog)
    // one materialization of the verdicts: the accept/fail/dead three-way split must
    // read ONE consistent evaluation, and checkpointing here also cuts the lineage
    // that would otherwise chain batch over batch through the retry queue
    val judged = pending.withColumn("__reason", reject(pending)).localCheckpoint(true)
    val ok = judged.filter(col("__reason").isNull).drop("__reason", "__attempts")
    // same code path as StreamingEdgeIngest.writer: the LWW fold + compaction cadence
    val merged = new EdgeStore(store.log.unionByName(ok), store.vertexLog)
    store =
      if (batchSeq % compactEvery == compactEvery - 1)
        new EdgeStore(merged.snapshot.localCheckpoint(eager = true), store.vertexLog)
      else merged
    batchSeq += 1
    val failed = judged.filter(col("__reason").isNotNull)
      .withColumn("__attempts", col("__attempts") + lit(1))
    val newDead = failed.filter(col("__attempts") >= maxAttempts)
      .withColumnRenamed("__attempts", "attempts")
      .withColumnRenamed("__reason", "reason")
    // append-and-checkpoint ONLY when something actually dead-lettered: the eager
    // checkpoint copies the whole accumulated audit log, and most batches of a
    // healthy stream add nothing to it (the isEmpty probe reads the already-
    // checkpointed `judged`, so it is cheap)
    if (!newDead.isEmpty)
      deadLog = deadLog.unionByName(newDead).localCheckpoint(true)
    retryLog = failed.filter(col("__attempts") < maxAttempts)
      .drop("__reason").localCheckpoint(true)
  }

  /** Attach to a raw edge-write stream (same columns as
    * [[StreamingEdgeIngest.writer]]); each micro-batch services incoming + queued
    * retries together.
    */
  def writer(writes: DataFrame): DataStreamWriter[Row] =
    writes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(Some(batch)) }

  def start(writes: DataFrame): StreamingQuery = writer(writes).start()

  /** The reference's periodic error-queue flush: one retry-only cycle, for streams
    * quiet enough that no incoming micro-batch is servicing the queue.
    */
  def flushRetries(): Unit = processBatch(None)

  /** Manual re-inject of inspected dead letters (reference: "we can fix it, and
    * re-inject the job") — rows matching `which` move back to the error queue with
    * the attempt counter reset, to be serviced by the next batch or flush.
    */
  def reinject(which: org.apache.spark.sql.Column = lit(true)): Unit = synchronized {
    val chosen = deadLog.filter(which)
    retryLog = retryLog.unionByName(
        chosen.select(EdgeStore.edgeCols: _*).withColumn("__attempts", lit(0)))
      .localCheckpoint(true)
    deadLog = deadLog.filter(!coalesce(which, lit(false))).localCheckpoint(true)
  }
}

object RetryingEdgeIngest {
  import org.apache.spark.sql.functions._

  /** Production reject predicate: semantic invalidity a parsed row can still carry
    * (the quarantine split upstream only proves the KEY fields are present). Null =
    * accepted.
    */
  def invalidEdge(pending: DataFrame): org.apache.spark.sql.Column =
    when(col("state") < 0 || col("state") > 3, lit("state ordinal out of range"))
      .when(col("count") < 0, lit("negative count"))
      .when(col("updated_at") < 0, lit("negative updated_at"))
      .otherwise(lit(null).cast("string"))
}
