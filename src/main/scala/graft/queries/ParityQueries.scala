package graft.queries

import graft.FixtureStore
import graft.filter.{FilterChain, FilterSpec}
import graft.model.{ConsumerPartition, ConsumerState}
import graft.retry.ExponentialBackoffRetry
import graft.sources.{DeserializerSpec, ParquetEventLog, PartitionDistributor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JDouble, JString}

/**
 * Reference-parity queries (SURVEY.md §2) — each exercises one operator of
 * the reference surface through the engine's public API, with a DuckDB
 * oracle over the same parquet. All run on the synthesized `events` log
 * (FIXTURES.md §B log mapping, 4 partitions).
 */
object ParityQueries {
  import QueryDef.logCte

  private val P = 4

  private def log(spark: SparkSession, dir: String): DataFrame =
    ParquetEventLog(dir, P).read(spark)
      .withColumnRenamed("partition", "log_partition")
      .withColumnRenamed("offset", "log_offset")

  // One V2-layout materialization of the event log per (process, dir)
  // ([[FixtureStore.onDisk]]); the fixture is what a deployment
  // maintains as its log segments.
  private def ensureV2Log(s: SparkSession, dir: String): String =
    FixtureStore.onDisk("v2log", dir)(
      p => graft.sources.GraftLog.materialize(ParquetEventLog(dir, 4).read(s), p))

  /** The NATIVE DataSource V2 connector face (S1/S2's assign+seek+poll
    * as a [[graft.sources.GraftLogProvider]] MicroBatchStream/Batch):
    * the synthesized event log materializes into the V2 segment layout
    * once, the connector reads it back, and the per-partition progress
    * rollup is gated against the SAME logCte twin the file-based faces
    * use — so the V2 write→footer-stats→typed-read path is
    * driver-checked end-to-end. */
  private val logV2Scan = QueryDef(
    (s, dir) => {
      val path = ensureV2Log(s, dir)
      s.read.format("graftlog").option("path", path).load()
        .groupBy(col("partition").as("log_partition"))
        .agg(count(lit(1)).as("n_records"),
          min("offset").as("min_offset"), max("offset").as("max_offset"),
          countDistinct("key").as("n_keys"))
        .orderBy("log_partition")
    },
    Some(s"""$logCte
      |SELECT log_partition, CAST(COUNT(*) AS BIGINT) AS n_records,
      |  MIN(log_offset) AS min_offset, MAX(log_offset) AS max_offset,
      |  CAST(COUNT(DISTINCT key) AS BIGINT) AS n_keys
      |FROM log GROUP BY log_partition ORDER BY log_partition""".stripMargin))

  /** `log_v2_scan` through the SQL CATALOG face (S12): the same V2 log
    * addressed BY NAME — a `GraftLogCatalog` registered over the log's
    * parent directory, the identical per-partition rollup issued as
    * pure SQL against `<cat>.<log>` — gated by the logCte twin
    * VERBATIM. What `log_v2_scan` proves for the DataFrame path this
    * row proves for the SQL path: same table implementation, same
    * pushdown, catalog naming only. */
  private val logV2Sql = QueryDef(
    (s, dir) => {
      val path = ensureV2Log(s, dir)
      val slash = path.lastIndexOf('/')
      val (root, logName) = (path.substring(0, slash), path.substring(slash + 1))
      // one catalog per log root — the name keys on the log's slug so
      // concurrent suites over different testdata dirs never collide
      // on a cached catalog instance with a stale root
      val cat = "graftsql_" + logName.replaceAll("[^A-Za-z0-9_]", "_")
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftLogCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"""SELECT `partition` AS log_partition,
        CAST(COUNT(*) AS LONG) AS n_records,
        MIN(`offset`) AS min_offset, MAX(`offset`) AS max_offset,
        COUNT(DISTINCT key) AS n_keys
        FROM $cat.`$logName`
        GROUP BY `partition` ORDER BY log_partition""")
    },
    logV2Scan.oracle)

  /** The NATIVE V2 WRITE path (S6's emit face as a Spark sink),
    * driver-gated end-to-end: a deterministic produce frame goes
    * through `df.write.format("graftlog")` — clustered distribution,
    * task-local offset assignment from footer stats, staged-segment
    * rename commit — and the read-back's assigned offsets must equal
    * the oracle's row_number reconstruction of the (key, value)
    * assignment order. */
  private val logV2Produce = QueryDef(
    (s, dir) => {
      // the store owns the path and its reclamation; the produce itself
      // is the query under test, so every run writes afresh
      val path = FixtureStore.onDisk("v2produce", dir)(_ => ())
      FixtureStore.rmTree(new java.io.File(path))
      graft.Tables.events(s, dir)
        .selectExpr("cast(user_id % 4 as int) as partition",
          "cast(-1 as long) as offset",
          "cast(event_id as string) as key", "event_type as value")
        .write.format("graftlog").option("path", path)
        .option("offsets", "assign").mode("append").save()
      s.read.format("graftlog").option("path", path).load()
        .filter(col("offset") < 50)
        .select(col("partition").as("log_partition"),
          col("offset").as("log_offset"), col("key"), col("value"))
        .orderBy("log_partition", "log_offset")
    },
    // `offset` is a DuckDB reserved word (LIMIT/OFFSET) — log_offset
    Some("""WITH produced AS (
      |  SELECT CAST(user_id % 4 AS INT) AS log_partition,
      |    CAST(row_number() OVER (PARTITION BY user_id % 4
      |      ORDER BY CAST(event_id AS VARCHAR), event_type) - 1 AS BIGINT)
      |      AS log_offset,
      |    CAST(event_id AS VARCHAR) AS key, event_type AS value
      |  FROM events)
      |SELECT log_partition, log_offset, key, value FROM produced
      |WHERE log_offset < 50 ORDER BY log_partition, log_offset""".stripMargin))

  /** Reference KeyFilter sideline recipe (F4): tenant skip-list on the
    * firehose. */
  private val fhKeyfilter = QueryDef(
    (s, dir) => {
      val chain = FilterChain.empty.withStep("skip",
        FilterSpec.KeyIn("key", Seq("3", "7", "101")))
      log(s, dir).filter(chain.keep)
        .select("log_partition", "log_offset", "event_id", "key", "event_type")
        .orderBy("event_id")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key, event_type FROM log
      |WHERE NOT (key IN ('3','7','101')) ORDER BY event_id""".stripMargin))

  /** 500 deterministic tenant keys — large enough that inlining them as a
    * literal `isin` is the wrong shape (the r3/r4 SkipList point), small
    * enough to stay test-fast. The parquet table is a per-process
    * artifact written once ([[FixtureStore.onDisk]]); the oracle below
    * regenerates the same keys inline with the same arithmetic, so it
    * never reads what the query under test wrote. */
  private val SkipListKeys: Seq[String] =
    (0 until 500).map(i => ((i.toLong * 7919 + 13) % 5000).toString).distinct
  private def skipListPath(s: SparkSession): String =
    FixtureStore.onDisk("skiplist_keys", "tenants")(
      p => graft.ops.SkipList.write(s, p, SkipListKeys))

  /** Table-backed KeyFilter (F4 at scale): the skip-list lives in a
    * parquet table and applies as a broadcast LEFT ANTI join through the
    * engine's own chain path ([[FilterChain.applyKeep]] routing the
    * join-backed [[FilterSpec.KeyInTable]] to [[graft.ops.SkipList]]).
    * The spec round-trips through its JSON wire form, as it would on the
    * sideline control store. */
  private val fhSkiplistAnti = QueryDef(
    (s, dir) => {
      val spec = FilterSpec.fromJson(
        FilterSpec.KeyInTable("key", skipListPath(s)).toJson)
      val chain = FilterChain.empty.withStep("skip", spec)
      chain.applyKeep(log(s, dir))
        .select("log_partition", "log_offset", "event_id", "key", "event_type")
        .orderBy("event_id")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key, event_type FROM log
      |WHERE key NOT IN (
      |  SELECT CAST((i * 7919 + 13) % 5000 AS VARCHAR) FROM range(500) t(i))
      |ORDER BY event_id""".stripMargin))

  /** Tenant-PATTERN filter (the regex FilterChainStep recipe): drop every
    * tenant whose key matches the pattern. The spec round-trips through
    * its JSON wire form, as on the sideline control store. Anchored
    * pattern keeps Spark rlike (Java regex, find semantics) and DuckDB
    * regexp_matches agreeing. */
  private val fhRegex = QueryDef(
    (s, dir) => {
      val spec = FilterSpec.fromJson(
        FilterSpec.FieldRegex("key", "^1[0-9]$").toJson)
      val chain = FilterChain.empty.withStep("pattern", spec)
      chain.applyKeep(log(s, dir))
        .select("log_partition", "log_offset", "event_id", "key", "event_type")
        .orderBy("event_id")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key, event_type FROM log
      |WHERE key IS NULL OR NOT regexp_matches(key, '^1[0-9]$$')
      |ORDER BY event_id""".stripMargin))

  /** Multi-step chain (F2): drop if ANY of key-skip, low-value, error-type
    * matches. */
  private val fhChain = QueryDef(
    (s, dir) => {
      val chain = FilterChain.empty
        .withStep("keys", FilterSpec.KeyIn("key", Seq("5", "11")))
        .withStep("low", FilterSpec.FieldCmp("event_value", "lt", JDouble(5.0)))
        .withStep("errs", FilterSpec.FieldEq("event_type", JString("error")))
      log(s, dir).filter(chain.keep)
        .select("event_id", "log_partition", "log_offset", "event_type")
        .orderBy("event_id")
    },
    Some(s"""$logCte
      |SELECT event_id, log_partition, log_offset, event_type FROM log
      |WHERE NOT (key IN ('5','11') OR event_value < 5.0 OR event_type = 'error')
      |ORDER BY event_id""".stripMargin))

  /** Sideline replay (SL2/F3): ONLY the dropped rows, inside the offset
    * window (start exclusive, end inclusive — watermark semantics). */
  private val sidelineReplay = QueryDef(
    (s, dir) => {
      val src = ParquetEventLog(dir, P)
      val start = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 100L).toMap)
      val end = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 400L).toMap)
      val step = FilterSpec.KeyIn("key", Seq("3", "7", "11", "19", "23"))
      src.readBounded(s, start, Some(end))
        .filter(step.dropColumn)
        .withColumnRenamed("partition", "log_partition")
        .withColumnRenamed("offset", "log_offset")
        .select("log_partition", "log_offset", "event_id", "key")
        .orderBy("log_partition", "log_offset")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key FROM log
      |WHERE key IN ('3','7','11','19','23') AND log_offset > 100 AND log_offset <= 400
      |ORDER BY log_partition, log_offset""".stripMargin))

  /** THE parity invariant (BASELINE.md): firehose-during ∪ sideline ≡
    * unfiltered window. The oracle is the plain window scan — a hash match
    * proves the two outputs partition the window exactly. */
  private val sidelineUnionParity = QueryDef(
    (s, dir) => {
      val src = ParquetEventLog(dir, P)
      val start = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 100L).toMap)
      val end = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 200L).toMap)
      val step = FilterSpec.KeyIn("key", Seq("3", "7"))
      val chain = FilterChain.empty.withStep("r", step)
      val window = src.readBounded(s, start, Some(end))
      val firehose = window.filter(chain.keep)
      val sideline = window.filter(chain.sidelined("r"))
      firehose.unionByName(sideline)
        .withColumnRenamed("partition", "log_partition")
        .withColumnRenamed("offset", "log_offset")
        .select("log_partition", "log_offset", "event_id", "key", "event_type")
        .orderBy("log_partition", "log_offset")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key, event_type FROM log
      |WHERE log_offset > 100 AND log_offset <= 200
      |ORDER BY log_partition, log_offset""".stripMargin))

  /** Deserialize-project (P1): JSON payload decode; null decode would drop
    * (reference Consumer.java:351-360). */
  /** P1 deserialize-project routed through the pluggable
    * [[DeserializerSpec]] surface (reference Deserializer.java:36-50 with
    * null⇒drop+ack, Consumer.java:351-360). The spec round-trips through
    * its JSON wire form here to prove the config-driven path — a
    * deployment would carry exactly this string in its settings. */
  private val deserializeProject = QueryDef(
    (s, dir) => {
      val spec = DeserializerSpec.fromJson(DeserializerSpec.RawExprs(
        Seq("k" -> "cast(get_json_object(value, '$.k') as int)"),
        requireNonNull = Seq("k")).toJson)
      spec(log(s, dir))
        .select("event_id", "key", "k")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(user_id AS VARCHAR) AS key,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |ORDER BY event_id""".stripMargin))

  /** Offset-bounded scan (S1 bounded replay): [50, 150] per partition. */
  private val offsetWindowScan = QueryDef(
    (s, dir) => {
      val src = ParquetEventLog(dir, P)
      val start = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 50L).toMap)
      val end = ConsumerState((0 until P).map(p =>
        ConsumerPartition("events", p) -> 150L).toMap)
      src.readBounded(s, start, Some(end))
        .withColumnRenamed("partition", "log_partition")
        .withColumnRenamed("offset", "log_offset")
        .select("log_partition", "log_offset", "event_id", "key")
        .orderBy("log_partition", "log_offset")
    },
    Some(s"""$logCte
      |SELECT log_partition, log_offset, event_id, key FROM log
      |WHERE log_offset > 50 AND log_offset <= 150
      |ORDER BY log_partition, log_offset""".stripMargin))

  /** Partition→consumer assignment (S4) for 3 consumer instances —
    * closed form of the reference's greedy split. */
  private val partitionAssignment = QueryDef(
    (s, dir) => PartitionDistributor.assignmentDf(
        log(s, dir).select(col("log_partition")), col("log_partition"), 3)
      .withColumnRenamed("partition", "log_partition")
      .select("log_partition", "consumer_index")
      .orderBy("log_partition"),
    Some(s"""$logCte, parts AS (SELECT DISTINCT log_partition FROM log),
      |r AS (SELECT log_partition,
      |             row_number() OVER (ORDER BY log_partition) - 1 AS rnk,
      |             count(*) OVER () AS total FROM parts)
      |SELECT log_partition,
      |       CAST(GREATEST(rnk // CAST(CEIL(total / 3.0) AS BIGINT),
      |                     3 - total + rnk) AS INT) AS consumer_index
      |FROM r ORDER BY log_partition""".stripMargin))

  /** Contiguous-ack watermark (§1.3): acks for all offsets except where
    * event_id % 10 = 3; watermark = highest contiguous acked offset
    * (reference PartitionOffsetManager.finishOffset:119-165). */
  private val ackWatermark = QueryDef(
    (s, dir) => log(s, dir)
      .withColumn("acked", col("event_id") % 10 =!= 3)
      .groupBy(col("log_partition"))
      .agg(coalesce(
        min(when(!col("acked"), col("log_offset"))) - 1,
        max(col("log_offset"))).as("last_finished_offset"))
      .orderBy("log_partition"),
    Some(s"""$logCte
      |SELECT log_partition,
      |       COALESCE(MIN(CASE WHEN event_id % 10 = 3 THEN log_offset END) - 1,
      |                MAX(log_offset)) AS last_finished_offset
      |FROM log GROUP BY log_partition ORDER BY log_partition""".stripMargin))

  /** Per-partition progress + lag metrics (SpoutPartitionProgressMonitor
    * :60-170 / Consumer lag gauges :373-426): processed/unprocessed/
    * percent_complete from (start=0, current=watermark, end=max). */
  private val partitionProgress = QueryDef(
    (s, dir) => log(s, dir)
      .withColumn("acked", col("event_id") % 10 =!= 3)
      .groupBy(col("log_partition"))
      .agg(
        coalesce(min(when(!col("acked"), col("log_offset"))) - 1,
          max(col("log_offset"))).as("current_offset"),
        max(col("log_offset")).as("ending_offset"))
      .withColumn("total_processed", col("current_offset"))
      .withColumn("total_unprocessed", col("ending_offset") - col("current_offset"))
      .withColumn("percent_complete",
        round(col("current_offset") * 100.0 / col("ending_offset"), 2))
      .select("log_partition", "current_offset", "ending_offset",
        "total_processed", "total_unprocessed", "percent_complete")
      .orderBy("log_partition"),
    Some(s"""$logCte, w AS (
      |  SELECT log_partition,
      |         COALESCE(MIN(CASE WHEN event_id % 10 = 3 THEN log_offset END) - 1,
      |                  MAX(log_offset)) AS current_offset,
      |         MAX(log_offset) AS ending_offset
      |  FROM log GROUP BY log_partition)
      |SELECT log_partition, current_offset, ending_offset,
      |       current_offset AS total_processed,
      |       ending_offset - current_offset AS total_unprocessed,
      |       ROUND(current_offset * 100.0 / ending_offset, 2) AS percent_complete
      |FROM w ORDER BY log_partition""".stripMargin))

  /** Retry scheduling (R1/R2/R5): error events as failures with synthetic
    * fail counts; backoff delay + retry-vs-dead-letter routing per the
    * default policy with limit 3. */
  private val retryBackoff = QueryDef(
    (s, dir) => {
      val policy = ExponentialBackoffRetry(retryLimit = 3,
        initialDelayMs = 1000, multiplier = 2.0, maxDelayMs = 900000)
      log(s, dir).filter(col("event_type") === "error")
        .withColumn("fail_count", (col("event_id") % 5 + 1).cast("int"))
        .withColumn("retry_delay_ms",
          least(lit(policy.initialDelayMs) *
              pow(lit(policy.multiplier), col("fail_count") - 1),
            lit(policy.maxDelayMs.toDouble)).cast("long"))
        .withColumn("can_retry", policy.retryFurther(col("fail_count")))
        .select("event_id", "fail_count", "retry_delay_ms", "can_retry")
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      |       CAST(event_id % 5 + 1 AS INT) AS fail_count,
      |       CAST(LEAST(1000 * POWER(2.0, CAST(event_id % 5 AS INT)), 900000.0) AS BIGINT) AS retry_delay_ms,
      |       CAST(event_id % 5 + 1 AS INT) < 3 AS can_retry
      |FROM events WHERE event_type = 'error' ORDER BY event_id""".stripMargin))

  val all: Map[String, QueryDef] = Map(
    "fh_keyfilter" -> fhKeyfilter,
    "log_v2_scan" -> logV2Scan,
    "log_v2_sql" -> logV2Sql,
    "log_v2_produce" -> logV2Produce,
    "fh_skiplist_anti" -> fhSkiplistAnti,
    "fh_regex" -> fhRegex,
    "fh_chain" -> fhChain,
    "sideline_replay" -> sidelineReplay,
    "sideline_union_parity" -> sidelineUnionParity,
    "deserialize_project" -> deserializeProject,
    "offset_window_scan" -> offsetWindowScan,
    "partition_assignment" -> partitionAssignment,
    "ack_watermark" -> ackWatermark,
    "partition_progress" -> partitionProgress,
    "retry_backoff" -> retryBackoff)
}
