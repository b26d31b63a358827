package graft.sources

import graft.model.{ConsumerPartition, ConsumerState, LogSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The engine's source abstraction — the reference's Consumer interface
 * (dynamic/consumer/Consumer.java:40-103: open/nextRecord/commitOffset/
 * getCurrentState/...) re-expressed declaratively: a LogSource does not
 * iterate records, it *describes* a (possibly offset-bounded) scan as a
 * DataFrame and lets Spark plan it. Offset tracking (the reference's
 * PartitionOffsetManager machinery) is subsumed by Structured Streaming's
 * checkpoint in streaming mode and by explicit [start, end) bounds in batch
 * replay mode — see SURVEY.md §1.3.
 *
 * Contract: the returned DataFrame contains at least LogSchema.metaColumns
 * (namespace, partition, offset, key, value); payload columns ride along so
 * predicates can reference them directly (unlike the reference, where the
 * payload is an opaque Values list and every filter deserializes by hand).
 */
trait LogSource extends Serializable {
  def namespace: String

  /** Unbounded scan of everything currently in the log (batch snapshot). */
  def read(spark: SparkSession): DataFrame

  /** Offset-bounded scan: rows with start <= offset < end per partition.
   * Missing partition in `starting` => from the beginning; missing in
   * `ending` => to the current end (mirrors Kafka startingOffsets /
   * endingOffsets semantics; reference VirtualSpout ending-bound check at
   * dynamic/VirtualSpout.java:337-358). `starting` offsets are EXCLUSIVE
   * last-finished watermarks, matching the reference's resume-after rule
   * (kafka/Consumer.java:62-90: restart replays everything after the
   * committed watermark).
   *
   * Scale shape: with few partitions the bounds inline as a literal
   * predicate — pushdown-friendly, the parquet scan prunes on it. Past
   * [[LogSource.MaxInlineBounds]] partitions the same disjunction becomes
   * an expression-tree liability (a 10k-partition log would hand Catalyst
   * a 10k-term Or: quadratic analysis, codegen blowup), so the bounds
   * switch to a BROADCAST-JOINED per-partition bound table — metadata-
   * sized by construction (one row per partition) and O(1) in expression
   * size regardless of partition count. Both paths implement the exact
   * same semantics (LogSourceBoundsSuite pins parity). */
  def readBounded(
      spark: SparkSession,
      starting: ConsumerState,
      ending: Option[ConsumerState]): DataFrame = {
    val startOffsets = starting.offsets.collect {
      case (ConsumerPartition(ns, p), off) if ns == namespace => p -> off
    }
    val endOffsets = ending.map(_.offsets.collect {
      case (ConsumerPartition(ns, p), off) if ns == namespace => p -> off
    })
    val nBounds = startOffsets.size + endOffsets.map(_.size).getOrElse(0)
    if (nBounds <= LogSource.MaxInlineBounds)
      readBoundedInline(spark, startOffsets, endOffsets)
    else readBoundedJoin(spark, startOffsets, endOffsets)
  }

  /** Literal-predicate bounds (small partition counts): pushes to the scan. */
  private[sources] def readBoundedInline(
      spark: SparkSession,
      startOffsets: Map[Int, Long],
      endOffsets: Option[Map[Int, Long]]): DataFrame = {
    val df = read(spark)
    val afterStart =
      if (startOffsets.isEmpty) df
      else {
        val startExpr = startOffsets.map { case (p, off) =>
          (col("partition") === p) && (col("offset") <= off)
        }.reduceOption(_ || _).getOrElse(lit(false))
        df.filter(!startExpr)
      }
    endOffsets match {
      case None => afterStart
      case Some(end) =>
        // A partition absent from the ending state contributes nothing:
        // the snapshot was taken when that partition did not exist, so a
        // bounded replay must not read past the snapshot (reference
        // doesMessageExceedEndingOffset treats unknown as exceed).
        val endExpr = end.map { case (p, off) =>
          (col("partition") === p) && (col("offset") <= off)
        }.reduceOption(_ || _).getOrElse(lit(false))
        afterStart.filter(endExpr)
    }
  }

  /** Broadcast-joined bounds (large partition counts): one row per
    * partition, O(1) expression size. */
  private[sources] def readBoundedJoin(
      spark: SparkSession,
      startOffsets: Map[Int, Long],
      endOffsets: Option[Map[Int, Long]]): DataFrame = {
    import spark.implicits._
    val df = read(spark)
    endOffsets match {
      case Some(end) =>
        // ending keyset decides admission (absent partition => no rows);
        // carry the start bound on the same row where present
        val bounds = end.toSeq
          .map { case (p, e) => (p, e, startOffsets.get(p)) }
          .toDF("partition", "__end_off", "__start_off")
        df.join(broadcast(bounds), Seq("partition"))
          .filter(col("offset") <= col("__end_off") &&
            (col("__start_off").isNull || col("offset") > col("__start_off")))
          .drop("__end_off", "__start_off")
      case None =>
        // start-only: absent partition reads from the beginning
        val bounds = startOffsets.toSeq.toDF("partition", "__start_off")
        df.join(broadcast(bounds), Seq("partition"), "left")
          .filter(col("__start_off").isNull || col("offset") > col("__start_off"))
          .drop("__start_off")
    }
  }

  /** STREAMING scan starting AFTER the watermarks in `from` (exclusive
    * — the resume-after rule), the stream twin of [[readBounded]]'s
    * start bound: what a RESUME replay stream reads. Sources that model
    * streams natively override it (FileLogSource filters the file
    * stream; GraftLogSource pushes the snapshot into its own
    * startingOffsets, so pre-snapshot segments are never even planned). */
  def readStreamFrom(spark: SparkSession, from: ConsumerState): DataFrame =
    throw new UnsupportedOperationException(
      s"log source '$namespace' has no snapshot-bounded streaming read")

  /** Current high-watermark per partition (reference
   * Consumer.getCurrentState / lag gauges, kafka/Consumer.java:373-426). */
  def currentState(spark: SparkSession): ConsumerState = {
    val rows = read(spark)
      .groupBy(col("partition"))
      .agg(max(col("offset")).as("end_offset"))
      .collect()
    ConsumerState(rows.map { r =>
      ConsumerPartition(namespace, r.getInt(0)) -> r.getLong(1)
    }.toMap)
  }
}

/**
 * Log view over the driver-provided `events.parquet` — the deterministic
 * "offset identity without Kafka" mapping from FIXTURES.md §B:
 *   namespace = 'events', partition = user_id % numPartitions,
 *   offset    = row_number() over (partition by partition order by event_id) - 1,
 *   key       = cast(user_id as string), value = props.
 *
 * The row_number shuffle is the price of synthesizing offsets from a table;
 * a real Kafka log carries (partition, offset) natively and this class is
 * replaced by the Kafka source (format("kafka"), assign/startingOffsets) at
 * production scale. Offsets are only synthesized once per job and the
 * window partitions by the SAME key downstream operators group on, so AQE
 * can reuse the exchange.
 */
final case class ParquetEventLog(dir: String, numPartitions: Int = 4)
    extends LogSource {
  val namespace = "events"

  /** The synthesized log view is the engine's "open consumer": one view
    * per (session, dir, P), memoized through [[graft.FixtureStore]] and
    * swept when its session's context stops — the reference likewise
    * keeps one consumer open across nextRecord calls and closes it when
    * the spout closes. The view is memoized, NOT cached: every action
    * re-plans it from the parquet, so nothing goes stale after
    * `spark.catalog.clearCache()` and no harness pass reads blocks an
    * earlier pass stored. Real log sources
    * (KafkaLogSource/FileLogSource) carry native offsets and skip this. */
  def read(spark: SparkSession): DataFrame =
    graft.FixtureStore.perSession(spark, ("event_log", dir, numPartitions))(build(spark))

  private def build(spark: SparkSession): DataFrame = {
    val raw = graft.Tables.events(spark, dir)
    val part = (col("user_id") % numPartitions).cast("int")
    val w = Window.partitionBy(col("partition")).orderBy(col("event_id"))
    raw
      // events has a DOUBLE `value` column; the log schema reserves `value`
      // for the opaque payload (= props), so the metric rides as event_value.
      .withColumnRenamed("value", "event_value")
      .withColumn("namespace", lit(namespace))
      .withColumn("partition", part)
      .withColumn("offset", row_number().over(w).cast("long") - 1)
      .withColumn("key", col("user_id").cast("string"))
      .withColumn("value", col("props"))
      .select(
        col("namespace"), col("partition"), col("offset"), col("key"),
        col("value"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("event_value"))
      .withColumn("source_id", lit("firehose:main"))
  }
}

object LogSource {
  /** Max per-partition bounds inlined as a literal predicate before
    * [[LogSource.readBounded]] switches to the broadcast-joined bound
    * table. Inline wins while the disjunction is small (it reaches the
    * parquet scan as a pushed filter); the join wins once expression size
    * would grow with the partition count. */
  val MaxInlineBounds = 64
}
