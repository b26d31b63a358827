package sidebench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.model.ConsumerState
import graft.sideline.{ControlStore, SidelinePayload}
import graft.sources.{GraftLogSource, LogSource}
import graft.streaming.StreamingFirehose.FirehoseHandle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** A control store that times `list()`, the call the firehose makes at
  * every micro-batch boundary to re-read its chain. Used in trace mode. */
final class TimingStore(inner: ControlStore) extends ControlStore {
  val listMs = new ConcurrentLinkedQueue[(Double, Double)]() // (end, duration)
  def persist(p: SidelinePayload): Unit = inner.persist(p)
  def retrieve(id: String): Option[SidelinePayload] = inner.retrieve(id)
  def list(): Seq[SidelinePayload] = {
    val t0 = Clock.ms()
    try inner.list() finally { val t1 = Clock.ms(); listMs.add((t1, t1 - t0)) }
  }
  def clear(id: String): Unit = inner.clear(id)
}

/** The graftlog source as the sideline engine sees it in the live
  * workload. START still asks the log for its high watermark, as the
  * program does, so the listing is paid inside `engine.start`; but the
  * snapshot it returns is the firehose's committed consumer position
  * (what the reference snapshots at START). With the log end as the
  * snapshot, rows published after the last commit but before START are
  * dropped by the next batch yet lie before the replay window, so they
  * are never replayed. Each snapshot keeps both positions, so the
  * workload counts those rows (`sideline.start_gap_rows`). */
final class ConsumerView(inner: GraftLogSource, handle: FirehoseHandle) extends LogSource {
  /** (log end, committed position) of the latest snapshot. */
  @volatile var lastSnapshot: Option[(ConsumerState, ConsumerState)] = None

  def namespace: String = inner.namespace
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def readBounded(spark: SparkSession, starting: ConsumerState,
      ending: Option[ConsumerState]): DataFrame = inner.readBounded(spark, starting, ending)
  override def readStreamFrom(spark: SparkSession, from: ConsumerState): DataFrame =
    inner.readStreamFrom(spark, from)
  override def currentState(spark: SparkSession): ConsumerState = {
    val end = inner.currentState(spark)
    val committed = handle.committedState
    lastSnapshot = Some((end, committed))
    committed
  }
}

object Streams {
  /** Per-partition offsets from a graftlog progress offset JSON
    * (next-read positions; keys starting with `_` are metadata). */
  def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(json) match {
        case JObject(fs) => fs.collect {
          case (k, JInt(v)) if !k.startsWith("_") => k.toInt -> v.toLong
          case (k, JLong(v)) if !k.startsWith("_") => k.toInt -> v
        }.toMap
        case _ => Map.empty
      }
    }

  /** (start, end) next-read positions of the batch an event reports. */
  def range(ev: ProgressLog#Ev): (Map[Int, Long], Map[Int, Long]) = {
    val s = ev.p.sources.head
    (offsets(s.startOffset), offsets(s.endOffset))
  }

  /** Exclusive-end positions from a consumer state (last offsets). */
  def until(s: ConsumerState): Map[Int, Long] =
    s.offsets.map { case (cp, off) => cp.partition -> (off + 1) }

  /** graftlog's per-segment file schema (the partition is the directory). */
  private val SegmentSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message segment { required int64 offset; optional binary key (STRING); " +
      "optional binary value (STRING); }")

  /** Write segments `segs` of `gen`'s rows as one parquet file per
    * (partition, segment) of `rowsPerSegment` rows in the connector's
    * file layout; returns the file of each (partition, segment). The
    * files are written with parquet directly: a Spark write costs about
    * 25 ms per output file, which for hundreds of small segments would
    * dominate the run. */
  def stageSegments(gen: LogGen, rowsPerSegment: Int, segs: Range,
      dir: String): Map[(Int, Int), Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val groups = new SimpleGroupFactory(SegmentSchema)
    val conf = new org.apache.hadoop.conf.Configuration()
    (for (p <- 0 until gen.partitions; j <- segs) yield {
      val f = Paths.get(dir, f"p$p-s$j%06d.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f.toUri))
        .withType(SegmentSchema).withConf(conf).build()
      try for (o <- j * rowsPerSegment until (j + 1) * rowsPerSegment)
        w.write(groups.newGroup().append("offset", o.toLong)
          .append("key", gen.key(p, o)).append("value", gen.value(p, o)))
      finally w.close()
      (p, j) -> f
    }).toMap
  }

  def list(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
