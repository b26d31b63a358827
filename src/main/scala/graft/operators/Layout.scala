package graft.operators

import graft.Tables
import graft.queries.QueryDef
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Physical-layout operators — the write-side complement of
 * [[graft.ops.Compaction]]: Z-ORDER clustering (the Delta/Iceberg
 * `OPTIMIZE ZORDER BY` recipe) interleaves the bits of two scan
 * dimensions into one sort key, so range-partitioned files get NARROW
 * min/max envelopes on BOTH columns and file-level stats prune
 * point/range predicates on either — where a single-column sort prunes
 * only its own column.
 *
 * The demo clusters lineitem on (ship-day, partkey). Both dims are first
 * NORMALIZED to the full 16-bit domain (v·65535 div max — raw values
 * fill only the low bits, which would leave the interleave's high bits
 * all-zero on the narrower dim and cells degenerate along it; real
 * z-order writers rank/scale for exactly this reason). Everything is
 * exact integer arithmetic (mul/div/shift/mask, identical both engines).
 *
 * Shape at 100 TB: the two maxes are a one-row broadcast; the z-key is
 * pure per-row narrow math; clustering = one exact z-quantile aggregate
 * (a count per distinct z key) + ONE exchange by file id +
 * partition-local sort; the cell-stats report is one map-side-combined
 * groupBy over cell ids.
 */
object Layout {

  /** Bits per dimension (16 → a 32-bit z key). */
  private val DimBits = 16

  /** Top bits of z kept as the cell id: 2^CellBits cells ≈ files. */
  private val CellBits = 6

  /** Bit-interleave SQL for two sub-2^16 nonneg ints: a's bit i lands at
    * 2i, b's at 2i+1. Valid in BOTH dialects (`&`, `<<`, `>>` shared). */
  private def zSql(a: String, b: String): String =
    (0 until DimBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  private val Top = (1 << DimBits) - 1 // 65535

  /** Z-order cell report over lineitem clustered on (ship-day, partkey):
    * per cell the row count and both dimensions' min/max envelope — the
    * stats a writer would stamp into parquet footers. With [[CellBits]]=6
    * the interleave's top bits alternate day/pk, so each cell spans
    * ≈ 1/8 of each dim's range: a predicate on EITHER column eliminates
    * ~7/8 of the cells by footer stats alone. */
  private val layoutZorder = QueryDef(
    (s, dir) => {
      // day counts from the DATASET MIN, not a fixed epoch: a shipdate
      // before the epoch would make `day` negative, where Spark's `div`
      // (truncate) and DuckDB's `//` (floor) diverge and the sign bit
      // garbles the interleave. (day - lo_day) ≥ 0 by construction on
      // ANY input; reported min/max stay raw day-since-epoch values.
      val raw = Tables.lineitem(s, dir)
        .select(
          datediff(col("l_shipdate"), lit("1995-01-01").cast("timestamp"))
            .cast("long").as("day"),
          col("l_partkey").cast("long").as("pk"))
      val maxes = raw.agg(min("day").as("lo_day"), max("day").as("hi_day"),
        max("pk").as("max_pk"))
      raw.crossJoin(broadcast(maxes))
        .withColumn("dn",
          expr(s"((day - lo_day) * $Top) div greatest(hi_day - lo_day, 1)"))
        .withColumn("pn", expr(s"(pk * $Top) div max_pk"))
        .withColumn("z", expr(zSql("dn", "pn")))
        .withColumn("cell", expr(s"z >> ${2 * DimBits - CellBits}"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_rows"),
          min("day").as("min_day"), max("day").as("max_day"),
          min("pk").as("min_pk"), max("pk").as("max_pk"))
        .orderBy("cell")
    },
    Some(s"""WITH raw AS (
      |  SELECT CAST(date_diff('day', TIMESTAMP '1995-01-01', l_shipdate) AS BIGINT)
      |           AS day,
      |         CAST(l_partkey AS BIGINT) AS pk
      |  FROM lineitem),
      |maxes AS (
      |  SELECT MIN(day) AS lo_day, MAX(day) AS hi_day, MAX(pk) AS mx_pk FROM raw),
      |z AS (
      |  SELECT day, pk, ${zSql("dn", "pn")} AS z FROM (
      |    SELECT day, pk,
      |           ((day - lo_day) * $Top) // GREATEST(hi_day - lo_day, 1) AS dn,
      |           (pk * $Top) // mx_pk AS pn
      |    FROM raw, maxes))
      |SELECT z >> ${2 * DimBits - CellBits} AS cell,
      |  COUNT(*) AS n_rows,
      |  MIN(day) AS min_day, MAX(day) AS max_day,
      |  MIN(pk) AS min_pk, MAX(pk) AS max_pk
      |FROM z GROUP BY 1 ORDER BY cell""".stripMargin))

  /** MATERIALIZE the z-ordered layout: lineitem written as `numFiles`
    * parquet files range-partitioned on the z key, locally sorted — so
    * every FILE's parquet footer carries narrow min/max on BOTH
    * `z_day` and `z_pk` (LayoutSuite asserts the actual footer
    * statistics), and any reader's predicate on either column prunes
    * most files from the listing stats alone. File cut points are the
    * exact z quantiles at i/numFiles, so the layout depends on the data
    * alone (`repartitionByRange` seeded its sampler with the JVM-global
    * RDD id). Rows reach their file through one exchange keyed by file
    * id (a hash partitioner is the identity on 0..numFiles-1), then a
    * partition-local sort — the [[ShardedExport]] write shape. */
  def writeClustered(s: SparkSession, dir: String, outDir: String,
      numFiles: Int): Unit = {
    val raw = Tables.lineitem(s, dir)
      .select(col("*"),
        datediff(col("l_shipdate"), lit("1995-01-01").cast("timestamp"))
          .cast("long").as("z_day"),
        col("l_partkey").cast("long").as("z_pk"))
    // same min-normalization as the report query: the interleave input
    // must be non-negative regardless of where shipdates fall vs epoch
    val maxes = raw.agg(min("z_day").as("lo_day"), max("z_day").as("hi_day"),
      max("z_pk").as("max_pk"))
    val zed = raw.crossJoin(broadcast(maxes))
      .withColumn("zdn",
        expr(s"((z_day - lo_day) * $Top) div greatest(hi_day - lo_day, 1)"))
      .withColumn("zpn", expr(s"(z_pk * $Top) div max_pk"))
      .withColumn("z", expr(zSql("zdn", "zpn")))
      .drop("lo_day", "hi_day", "max_pk", "zdn", "zpn")
    val cuts = if (numFiles <= 1) Seq.empty[Double] else zed.agg(percentile(col("z"),
      typedLit((1 until numFiles).map(_.toDouble / numFiles)))).head().getSeq[Double](0)
    val filed = zed.withColumn("zfile",
      cuts.foldLeft(lit(0))((n, c) => n + when(col("z") > c, 1).otherwise(0)))
    val fileIdx = filed.schema.fieldIndex("zfile")
    val byFile = filed.rdd.keyBy(_.getInt(fileIdx))
      .partitionBy(new org.apache.spark.HashPartitioner(numFiles)).values
    s.createDataFrame(byFile, filed.schema).drop("zfile")
      .sortWithinPartitions("z")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(outDir)
  }

  val all: Map[String, QueryDef] = Map(
    "layout_zorder" -> layoutZorder)
}
