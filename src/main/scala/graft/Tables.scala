package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Central loader for the driver-provided parquet tables (TESTDATA.md).
 *
 * `events.parquet` carries TIMESTAMP(NANOS) which Spark's parquet reader
 * rejects unless `spark.sql.legacy.parquet.nanosAsLong=true`; with that
 * flag the column arrives as LONG nanos and is converted here to a real
 * timestamp at microsecond precision (the synthetic data has at most
 * microsecond resolution, and DuckDB's oracle truncates ns->us the same
 * way, so hashes line up). All other tables load as-is.
 */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Configs every engine SparkSession needs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // SESSION INVARIANT, on deliberately for every query: rewrites
      // bare-aggregate-over-V2-scan plans to parquet footer reads with
      // identical results (semantics-neutral). Set here at bootstrap —
      // not flipped from inside a QueryDef — so any future V2 read
      // inherits it VISIBLY. Only `agg_footer_stats` produces a V2 scan
      // today (everything else plans V1 per `useV1SourceList`).
      .config("spark.sql.parquet.aggregatePushdown", "true")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // self-sufficient on sessions the driver builds without our configs:
    // the nanos flag is a dynamic SQL conf, set it before the schema read
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // `ts div 1000` (integer division) — NOT `/ 1000` which is a double
    // divide: epoch-nanos (~1.7e18) exceed double's 53-bit mantissa and
    // come back off by up to a microsecond.
    if (name == "events" && df.schema("ts").dataType.typeName == "long")
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Parallelism-adaptive spread of a freshly-loaded table (r20 opt).
    *
    * The corpus operators used to open with a FIXED `repartition(64)` —
    * load-bearing on the test fixtures (each table is ONE parquet file =
    * a 1-task scan, so the expensive per-row work above it would run
    * single-threaded; the Dedup pushdown-safety scaladoc) but wrong at
    * both ends of the scale axis: at 100 TB the scan already has
    * ~bytes/maxPartitionBytes tasks and a constant 64 would BOTH add a
    * full-corpus round-robin exchange (text payload — the heaviest
    * possible shuffle, guide §2.4's removable kind) and CAP the plan's
    * parallelism at 64; on the driver's low-core bench runs a fixed 64
    * over-splits kilobyte inputs. This helper keeps the spread exactly
    * where it helps and nowhere else:
    *
    *  - estimated scan tasks ≥ 2×cores → the input is already parallel:
    *    NO exchange at all (the repartition vanishes at scale);
    *  - otherwise → `repartition(2 × defaultParallelism)`: on the
    *    driver's local[32] bench this is 64 — bit-identical to the plan
    *    shipped since r7 — and it tracks the session's core count on
    *    every other master instead of pinning local-mode tuning.
    *
    * The width estimate is [[spreadFrame]]'s: a fresh load is one
    * file-scan leaf, sized total input bytes / maxPartitionBytes (the
    * same arithmetic FilePartition planning uses; openCost is negligible
    * at both ends). Results are partitioning-independent for every
    * declared query (each is oracle-checked against an engine with no
    * partitioning notion), so this is physical-only. */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadFrame(load(spark, dir, name))

  /** [[spread]]'s policy for any frame, freshly loaded or built by a
    * caller: width estimated from the frame's LOGICAL plan — an explicit
    * upstream repartition width, a checkpointed RDD's partition count,
    * or bytes/maxPartitionBytes over file-scan leaves, whichever is
    * widest. Deliberately NOT `df.rdd.getNumPartitions`
    * (r20 ADVICE): that forces physical planning of a frame that is then
    * re-planned, and under AQE eagerly EXECUTES upstream shuffle/broadcast
    * stages just to read a count — the curation pipeline passes
    * join-lineage frames through here. Estimation failure falls toward
    * NO exchange (the at-scale-safe direction: a transient error must
    * never buy a full-corpus round-robin shuffle).
    *
    * Known blind spots of the estimate: leaves it does not match — an
    * `InMemoryRelation` (a persisted frame), a `LocalRelation` or a
    * `Range` — contribute no width, so a frame built only on them reads
    * as width 1 and always gets the 2×-cores repartition, even when it
    * is already wide. And the estimate is the WIDEST match anywhere in
    * the plan, so a narrowing coalesce above a wide scan is ignored and
    * the frame is left unspread. */
  def spreadFrame(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    val widths = try {
      df.queryExecution.optimizedPlan.collect {
        case r: Repartition => BigInt(r.numPartitions)
        case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
          BigInt(r.optNumPartitions.get)
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          BigInt(l.rdd.getNumPartitions)
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          (BigInt(l.relation.sizeInBytes) + maxSplit - 1) / maxSplit
      }
    } catch { case e: Exception =>
      System.err.println(s"[graft] spreadFrame: width estimate failed " +
        s"(${e.getMessage}) — skipping the parallelizing repartition")
      Seq(BigInt(2) * cores) // fail safe toward no added exchange
    }
    val est = if (widths.isEmpty) BigInt(1) else widths.max
    if (est >= 2 * cores) df else df.repartition(2 * cores)
  }

  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, dir, "documents")
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(spark, dir, "embeddings")
}
