package graft.streaming

import graft.engine.SidelineEngine
import graft.filter.FilterChain
import graft.model.{ConsumerPartition, ConsumerState}
import graft.sideline.SidelinePayload
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/**
 * The streaming firehose — the reference's main DynamicSpout data path
 * (dynamic/DynamicSpout.java:224-256) on Structured Streaming.
 *
 * The drop-predicate chain is re-read from the control store at EVERY
 * micro-batch boundary, so a sideline START/RESOLVE becomes visible with
 * at most one batch of latency — the Spark-native equivalent of the
 * reference's live ConcurrentHashMap mutation
 * (dynamic/filter/FilterChain.java:37-137), without the data race. The
 * chain compiles to one Catalyst predicate per batch, so the filter is
 * codegen'd and pushed toward the source; there is no per-record
 * interpretation.
 *
 * Routing mirrors the reference's two output streams
 * (DynamicSpout.java:240-255): rows surviving the chain go to the main
 * sink; rows carrying `permanently_failed = true` (from the retry
 * dataflow, graft.retry.RetryFlow) go to the failed sink un-tracked.
 * Rows *dropped by the chain* are counted but NOT emitted anywhere — the
 * reference acks them invisibly (VirtualSpout.java:308-323); here the
 * offsets advance with the batch commit and the count surfaces as
 * [[BatchMetrics.filtered]] through `onMetrics` (F8 in SURVEY.md §2.2).
 */
object StreamingFirehose {

  /** Per-batch counters — the reference's emit/filtered metrics
   * (VirtualSpout.{id}.filtered — SURVEY.md §2.2 F8). */
  final case class BatchMetrics(
      batchId: Long, input: Long, emitted: Long, failed: Long, filtered: Long)

  /**
   * Live-progress handle for a running firehose — the piece that makes
   * RESOLVE safe WITHOUT quiescing the stream (r2 verdict #2).
   *
   * It tracks the per-partition high watermark of every batch the
   * firehose has COMMITTED (each of which evaluated the then-active
   * chain), and [[resolveAtCommitted]] stamps the RESOLVE ending from
   * that state while holding the same lock the batch loop holds. That
   * linearizes RESOLVE against the chain-read→process→commit critical
   * section, closing the race the reference closes by ordering filter
   * mutation before spout start (SidelineSpoutHandler.java:316-321 and
   * ending snapshot at :488-537): without it, a batch could read the
   * chain as ACTIVE (dropping sidelined rows) yet finish after the
   * ending snapshot was taken — its dropped rows would sit ABOVE the
   * ending bound, outside the replay window: silently lost. With the
   * lock, every batch is entirely before the RESOLVE (its rows are
   * ≤ ending and its drops replay) or entirely after (the chain is gone
   * and its rows all emit, all > ending). Either way
   * firehose ∪ sideline ≡ input holds with NO pause in processing.
   */
  final class FirehoseHandle {
    private[streaming] val lock = new Object
    @volatile private var committed: ConsumerState = ConsumerState.empty

    /** High watermark of the last committed batch per partition. */
    def committedState: ConsumerState = committed

    private[streaming] def commit(batchState: ConsumerState): Unit =
      committed = ConsumerState.merge(committed, batchState)

    /** RESOLVE `id` with the ending stamped from committed progress,
      * atomically with respect to the running batch loop. Blocks for at
      * most one micro-batch (the reference's handler lock does the
      * same). */
    def resolveAtCommitted(engine: SidelineEngine, id: String): SidelinePayload =
      lock.synchronized { engine.resolveAt(id, committed) }
  }

  /** Annotate a (micro-)batch with the chain verdict. Pure plan
   * construction — used by run() and by batch parity tests. Routed via
   * the chain's transform path so join-backed steps
   * ([[graft.filter.FilterSpec.KeyInTable]]) annotate through their
   * broadcast join; scalar-only chains produce the same
   * `withColumn(dropColumn)` plan as before. */
  def routed(batch: DataFrame, chain: FilterChain): DataFrame =
    chain.annotateDrop(batch, "__dropped")

  /**
   * Run the firehose: every micro-batch re-derives the chain from the
   * engine's control store, drops matches, routes permanently-failed rows
   * to `failedSink`, emits the rest to `mainSink`.
   *
   * `mainSink`/`failedSink` receive (batchDf, batchId) and must be
   * idempotent on batchId for exactly-once output (e.g. overwrite-by-batch
   * parquet dir, Delta txn) — Spark replays a batch after a crash.
   *
   * Each batch is cached for the duration of its routing: the batch feeds
   * up to two sinks plus the aggregates below, and a micro-batch is
   * bounded (maxOffsetsPerTrigger), so the cache is small and saves
   * re-reading the source per consumer. Metrics come from one small
   * `groupBy().collect()` over the cached batch, not from per-sink
   * count() jobs; with a `handle`, the same aggregate also groups by
   * (namespace, partition) and carries max(offset), which feeds the
   * committed watermark — one aggregate job per batch either way.
   */
  def run(
      stream: DataFrame,
      engine: SidelineEngine,
      mainSink: (DataFrame, Long) => Unit,
      failedSink: (DataFrame, Long) => Unit = (_, _) => (),
      onMetrics: BatchMetrics => Unit = _ => (),
      checkpointLocation: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      queryName: String = "graft-firehose",
      handle: Option[FirehoseHandle] = None): StreamingQuery = {

    def processBatch(batch: DataFrame, batchId: Long): Unit = {
        // Chain re-read per batch — bounded staleness of one batch.
        val chain = engine.activeChain()
        val hasFailFlag = batch.columns.contains("permanently_failed")
        // Null-safe routing flags: the chain verdict is coalesced inside
        // FilterChain; a NULL permanently_failed means "not failed" so the
        // split filters and the metrics groupBy never see a NULL flag.
        val normalized =
          if (hasFailFlag)
            batch.withColumn("permanently_failed",
              coalesce(col("permanently_failed"), lit(false)))
          else batch
        val annotated = routed(normalized, chain).persist()
        try {
          val kept = annotated.filter(!col("__dropped")).drop("__dropped")
          if (hasFailFlag) {
            mainSink(kept.filter(!col("permanently_failed")), batchId)
            failedSink(kept.filter(col("permanently_failed")), batchId)
          } else {
            mainSink(kept, batchId)
          }
          // ONE aggregate feeds the metrics and, with a handle only (a
          // stream may lack partition/offset), the watermark
          val ns = if (annotated.columns.contains("namespace"))
            col("namespace") else lit(engine.log.namespace)
          val rows = annotated.groupBy(Seq(
              col("__dropped"),
              if (hasFailFlag) col("permanently_failed") else lit(false).as("permanently_failed")) ++
              handle.toSeq.flatMap(_ => Seq(ns.as("ns"), col("partition"))): _*)
            .agg(count(lit(1)).as("n"),
              handle.toSeq.map(_ => max(col("offset")).as("top")): _*)
            .collect()
          def total(p: (Boolean, Boolean) => Boolean): Long =
            rows.collect { case r if p(r.getBoolean(0), r.getBoolean(1)) =>
              r.getAs[Long]("n") }.sum
          onMetrics(BatchMetrics(
            batchId,
            input = total((_, _) => true),
            emitted = total((d, f) => !d && !f),
            failed = total((d, f) => !d && f),
            filtered = total((d, _) => d)))
          // commit the batch watermark LAST, while still inside the
          // handle's critical section: a resolveAtCommitted ending either
          // includes this whole batch or none of it
          handle.foreach { h =>
            h.commit(ConsumerState(rows
              .groupMapReduce(r => ConsumerPartition(r.getAs[String]("ns"), r.getAs[Int]("partition")))(
                _.getAs[Long]("top"))(math.max)))
          }
        } finally annotated.unpersist()
        ()
    }

    val writer: DataStreamWriter[Row] = stream.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        handle match {
          case Some(h) => h.lock.synchronized(processBatch(batch, batchId))
          case None => processBatch(batch, batchId)
        }
      }
    checkpointLocation.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }
}
