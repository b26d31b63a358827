package sidebench

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.XXH64

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the driver's raw record (no dependency
  * beyond the standard library). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Array[_] => render(xs.toSeq)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Monotonic clock in milliseconds since the driver started. */
object Clock {
  private val origin = System.nanoTime()
  def ms(): Double = (System.nanoTime() - origin) / 1e6
  def sleepUntilMs(t: Double): Unit = {
    var left = t - ms()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos((left * 1e6).toLong)
      left = t - ms()
    }
  }
}

/** Spans recorded around the driver's calls into each layer. Kept in
  * memory and written out once at the end; disabled spans cost one
  * branch. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Double, endMs: Double, tag: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  def span[T](layer: String, name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = Clock.ms()
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, layer, name, t0, Clock.ms(), tag))
      }
    }

  /** A span measured elsewhere (a micro-batch seen through the listener). */
  def record(layer: String, name: String, startMs: Double, endMs: Double, tag: String): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), -1, layer, name, startMs, endMs, tag))

  def toJson: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "tag" -> s.tag)
  }
}

/** Per-group Spark job counters from listener events. A group is one
  * streaming micro-batch (query id + batch id) or one job group. */
final class JobProbe extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L
  }
  private val accs = TrieMap.empty[String, Acc]
  private val stageKey = TrieMap.empty[Int, String]
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(k: String): Acc = accs.getOrElseUpdate(k, new Acc)

  private def keyOf(props: Properties): String =
    if (props == null) "other"
    else {
      val q = props.getProperty("sql.streaming.queryId")
      val b = props.getProperty("streaming.sql.batchId")
      if (q != null && b != null) s"stream:$q:$b"
      else Option(props.getProperty("spark.jobGroup.id")).map("group:" + _).getOrElse("other")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val k = keyOf(e.properties)
    acc(k).jobs += 1
    e.stageInfos.foreach(si => stageKey(si.stageId) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val k = stageKey.getOrElse(e.stageInfo.stageId, keyOf(e.properties))
    acc(k).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val a = acc(stageKey.getOrElse(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Wait until no listener event arrived for `settleMs` (events are
    * delivered asynchronously). */
  def quiesce(settleMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
        System.nanoTime() - lastEventNs < settleMs * 1000000L)
      Thread.sleep(50)
  }

  def batch(queryId: java.util.UUID, batchId: Long): Option[Acc] =
    accs.get(s"stream:$queryId:$batchId")
  def group(name: String): Option[Acc] = accs.get("group:" + name)
  def all: Iterable[Acc] = accs.values
}

/** Progress events of every streaming query, stamped on arrival. A
  * progress event is the query reporting a micro-batch as committed. */
final class ProgressLog extends StreamingQueryListener {
  final case class Ev(atMs: Double, p: StreamingQueryProgress) {
    def ranBatch: Boolean = p.durationMs.containsKey("addBatch")
    def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  }
  private val queues = TrieMap.empty[java.util.UUID, LinkedBlockingQueue[Ev]]
  private val history = TrieMap.empty[java.util.UUID, mutable.ArrayBuffer[Ev]]

  private def queue(id: java.util.UUID) = queues.getOrElseUpdate(id, new LinkedBlockingQueue[Ev]())

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val ev = Ev(Clock.ms(), e.progress)
    if (ev.ranBatch) {
      history.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty).synchronized {
        history(e.progress.id) += ev
      }
      queue(e.progress.id).put(ev)
    }
  }

  /** Next committed batch of query `id`, or None after `timeoutMs`. */
  def next(id: java.util.UUID, timeoutMs: Long): Option[Ev] =
    Option(queue(id).poll(timeoutMs, TimeUnit.MILLISECONDS))

  def events(id: java.util.UUID): Seq[Ev] =
    history.get(id).map(h => h.synchronized(h.toList)).getOrElse(Nil)
}

/** Order-insensitive row digest: per-row xxhash64 exactly as Spark's
  * `xxhash64(partition, offset, key, value)` computes it, summed as two
  * 32-bit halves so the sums never overflow. The generator computes it
  * in plain Scala; the sinks compute it in Spark. */
object RowHash {
  private val Seed = 42L

  private def str(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  def apply(partition: Int, offset: Long, key: String, value: String): Long =
    str(value, str(key, XXH64.hashLong(offset, XXH64.hashInt(partition, Seed))))

  def lo(h: Long): Long = h & 0xFFFFFFFFL
  def hi(h: Long): Long = h >>> 32

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  val column: Column = xxhash64(col("partition"), col("offset"), col("key"), col("value"))
  val sums: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(column.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
    coalesce(sum(shiftrightunsigned(column, 32)), lit(0L)).as("hi"))
}

/** (count, lo, hi) triple of [[RowHash]] sums. */
final case class Sums(n: Long, lo: Long, hi: Long) {
  def +(o: Sums): Sums = Sums(n + o.n, lo + o.lo, hi + o.hi)
  def -(o: Sums): Sums = Sums(n - o.n, lo - o.lo, hi - o.hi)
  def toMap: Map[String, Any] = Map("n" -> n, "lo" -> lo, "hi" -> hi)
}
object Sums {
  val zero: Sums = Sums(0, 0, 0)
  def of(df: org.apache.spark.sql.DataFrame): Sums = {
    val r = df.agg(RowHash.sums.head, RowHash.sums.tail: _*).head()
    Sums(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  def ofHash(h: Long): Sums = Sums(1, RowHash.lo(h), RowHash.hi(h))
}
