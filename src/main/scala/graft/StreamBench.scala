package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.streaming.Trigger

import java.util.concurrent.atomic.LongAdder

/**
 * Streaming ingest drives that [[MetricsReport]] records: the graftlog
 * source→sink loop, the catalog-dedup ingest and the curation ingest,
 * each over a staged ×N copy of a fixture table, reported as end-to-end
 * rows/second. The firehose's own throughput is the benchmark's
 * `firehose_live` workload (`sidebench/`).
 */
object StreamBench {

  final case class Result(rowsPerSec: Double, rows: Long, emitted: Long,
      filtered: Long, batches: Long, seconds: Double)

  /** The events table ×10 consumed through graftlog's MicroBatchStream
    * (admission via `maxOffsetsPerTrigger`) and PRODUCED into a second graftlog
    * through the V2 streaming sink (clustered write, task-local offset
    * assignment, staged-rename epoch commit) — the end-to-end
    * source→sink throughput of the connector pair. Exactly-once is
    * asserted, not assumed: the downstream row count must equal the
    * upstream's. */
  def runGraftLog(spark: SparkSession, sfDir: String): Result = {
    import graft.sources.GraftLog
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val stage = java.nio.file.Files.createTempDirectory("graft-streambench-log").toString
    val ev = Tables.events(spark, sfDir)
    val staged = (1 to 10).map(_ => ev).reduce(_ unionAll _)
      .selectExpr("cast(user_id % 8 as int) as partition",
        "cast(event_id as string) as key", "event_type as value")
    val w = Window.partitionBy("partition").orderBy("key", "value")
    GraftLog.materialize(
      staged.withColumn("offset", row_number().over(w).cast("long") - 1),
      s"$stage/in")
    val n = spark.read.parquet(s"$stage/in").count()

    val t0 = System.nanoTime()
    val q = spark.readStream.format("graftlog").option("path", s"$stage/in")
      .option("maxOffsetsPerTrigger", (n / 4 + 1).toString)
      .load()
      .selectExpr("partition", "cast(-1 as long) as offset", "key", "value")
      .writeStream.format("graftlog")
      .option("path", s"$stage/out").option("offsets", "assign")
      .option("checkpointLocation", s"$stage/ckpt")
      .trigger(Trigger.AvailableNow())
      .queryName("graft-stream-bench-log").start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    // assert through a DATA path, deliberately NOT the connector: a
    // graftlog count() is answered from footer stats (this round's
    // aggregate pushdown) and would miss exactly the duplication/loss
    // this check exists to catch. Distinctness catches a replayed
    // segment whose offsets overlap.
    val out = spark.read.parquet(s"$stage/out").selectExpr("partition", "offset")
    val outN = out.count()
    val outDistinct = out.distinct().count()
    require(outN == n && outDistinct == n,
      s"native source→sink loop lost or duplicated rows: " +
        s"$outN rows / $outDistinct distinct of $n")
    // committed epochs = done markers under the sink's producer scope
    val pd = new org.apache.hadoop.fs.Path(s"$stage/out/_producer")
    val fs = pd.getFileSystem(spark.sessionState.newHadoopConf())
    val batches =
      if (!fs.exists(pd)) 0L
      else fs.listStatus(pd).toSeq.filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath).toSeq)
        .count(st => st.getPath.getName.forall(_.isDigit)).toLong
    Result(n / sec, n, outN, 0, batches, sec)
  }

  final case class DedupIngestResult(
      plainRowsPerSec: Double, bloomRowsPerSec: Double,
      rows: Long, kept: Long, bypassFraction: Double)

  /** Measure the streaming catalog-dedup ingest path: the SAME staged
    * document stream driven through the plain stream-static anti-join
    * face and the Bloom-prefiltered face, plus the measured
    * definitely-new bypass fraction (rows whose fingerprint the filter
    * has provably never seen — the mass that skips the anti-join
    * entirely). Both faces must keep identical row counts (the split is
    * output-equivalent by construction; this drive asserts it). */
  def runDedupIngest(spark: SparkSession, sfDir: String): DedupIngestResult = {
    import graft.operators.IncrementalDedup
    val stage = java.nio.file.Files.createTempDirectory("graft-dedupingest").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // ×10 the corpus as the arriving stream (steady-state ingest volume);
    // catalog = the even-id half, so roughly half the stream is new
    (1 to 10).map(_ => docs).reduce(_ unionAll _)
      .repartition(24).write.parquet(s"$stage/in")
    val catalogTable = "graft_streambench_cat_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    IncrementalDedup.writeCatalog(
      docs.filter(col("doc_id") % 2 === 0), s"$stage/cat", catalogTable)
    val bloom = IncrementalDedup.catalogBloom(spark, catalogTable)
    val schema = spark.read.parquet(s"$stage/in").schema

    def drive(face: DataFrame => DataFrame): (Double, Long) = {
      val kept = new LongAdder
      val t0 = System.nanoTime()
      val q = face(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "6").parquet(s"$stage/in"))
        .writeStream
        .foreachBatch((df: DataFrame, _: Long) => kept.add(df.count()))
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          s"$stage/ckpt_${java.util.UUID.randomUUID().toString.take(8)}")
        .start()
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, kept.sum)
    }

    val (plainSec, keptPlain) =
      drive(IncrementalDedup.dedupStreamAgainstCatalog(_, catalogTable))
    val (bloomSec, keptBloom) =
      drive(IncrementalDedup.dedupStreamAgainstCatalogBloom(_, catalogTable, bloom))
    require(keptPlain == keptBloom,
      s"bloom face diverged: plain=$keptPlain bloom=$keptBloom")
    val staged = spark.read.parquet(s"$stage/in")
    val rows = staged.count()
    val bypass = staged
      .withColumn("fingerprint", md5(col("text")))
      .filter(!IncrementalDedup.mightContainColumn(bloom))
      .count().toDouble / rows
    DedupIngestResult(rows / plainSec, rows / bloomSec, rows, keptPlain, bypass)
  }

  final case class CurateIngestResult(rowsPerSec: Double, rows: Long, admitted: Long)

  /** Measure the streaming CURATION ingest face
    * ([[graft.operators.TrainingPipeline.curateStreamWriter]]): the
    * staged document stream driven through gate → redact → keepers →
    * exact-catalog → fuzzy-catalog per micro-batch. Catalogs are built
    * from the even-id half's POST-REDACTION text (the face's contract:
    * fingerprints and bands index what the pipeline admits, not raw
    * input), so roughly half the stream drops as history and the rest
    * faces the gates. */
  def runCurateIngest(spark: SparkSession, sfDir: String): CurateIngestResult = {
    import graft.operators.{IncrementalDedup, Redaction, TrainingPipeline}
    val stage = java.nio.file.Files.createTempDirectory("graft-curateingest").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    (1 to 5).map(_ => docs).reduce(_ unionAll _)
      .repartition(24).write.parquet(s"$stage/in")
    val redactedEvens = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("text", Redaction.redactColumn(col("text")))
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val fpTable = s"graft_sb_curfp_$tag"
    val bandTable = s"graft_sb_curband_$tag"
    IncrementalDedup.writeCatalog(redactedEvens, s"$stage/fpcat", fpTable)
    IncrementalDedup.writeBandCatalog(redactedEvens, s"$stage/bandcat", bandTable)
    val schema = spark.read.parquet(s"$stage/in").schema
    val admitted = new LongAdder
    val t0 = System.nanoTime()
    val q = TrainingPipeline.curateStreamWriter(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "6").parquet(s"$stage/in"),
        fpTable, bandTable, redactedEvens) { df => admitted.add(df.count()); () }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stage/ckpt")
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = spark.read.parquet(s"$stage/in").count()
    CurateIngestResult(rows / sec, rows, admitted.sum)
  }
}
