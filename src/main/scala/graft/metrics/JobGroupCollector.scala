package graft.metrics

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Executor-side resource footprint of one stage, or summed over a job
  * group's stages — the memory/shuffle numbers that sit next to the
  * recall numbers in the per-round METRICS artifact, so the 100×-scale
  * claim carries a MEASURED byte count, not just a plan shape.
  *
  * `peakTaskMemory` is the max single-task execution-memory watermark
  * (the number that decides whether a task fits an executor slot at the
  * target SF — sizing guidance reads `peak × shuffle.partitions /
  * executor.cores` against executor memory); every other field sums. */
final case class ResourceStats(tasks: Long = 0L, shuffleReadBytes: Long = 0L,
    shuffleWriteBytes: Long = 0L, inputBytes: Long = 0L,
    memSpillBytes: Long = 0L, diskSpillBytes: Long = 0L,
    peakTaskMemory: Long = 0L) {
  def spillBytes: Long = memSpillBytes + diskSpillBytes

  def +(o: ResourceStats): ResourceStats = ResourceStats(tasks + o.tasks,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, inputBytes + o.inputBytes,
    memSpillBytes + o.memSpillBytes, diskSpillBytes + o.diskSpillBytes,
    math.max(peakTaskMemory, o.peakTaskMemory))
}

/** One stage's attributed footprint — the row of the per-stage cost
  * table that turns "this query's latency is fixed overhead spread over
  * N stages" from an inference into a measurement. `wallMs` is the
  * stage's own submission→completion span (0 until it completes);
  * stages of one job overlap, so the per-stage walls can sum past the
  * query wall — they attribute, they don't partition. AQE re-planned
  * stages appear as their own rows: the table shows which exchange
  * actually cost the wall. */
final case class StageStats(stageId: Int, name: String, wallMs: Long,
    res: ResourceStats)

/** Outcome of [[JobGroupCollector.run]]. Times exist only for a run
  * that completed: a failed query must never report a wall. */
final case class LabeledRun(label: String, constructMs: Option[Double],
    execMs: Option[Double], stages: Seq[StageStats],
    error: Option[Throwable]) {
  def status: String = if (error.isEmpty) "ok" else "error"
  def totals: ResourceStats = stages.map(_.res).foldLeft(ResourceStats())(_ + _)
  def wallSec: Option[Double] =
    for (c <- constructMs; e <- execMs) yield (c + e) / 1e3

  /** Fail-loud view for artifact writers: rethrows the run's error and
    * rejects a run no task was attributed to — an all-zero row would be
    * indistinguishable from a genuinely free query. */
  def checked: LabeledRun = {
    error.foreach(e => throw e)
    require(totals.tasks > 0, s"zero tasks attributed to '$label'")
    this
  }
}

/** THE measurement listener behind every in-repo harness (Bench,
  * MetricsReport, ScaleReport, OptSweepProbe): records one
  * [[StageStats]] row per stage submitted under a job group
  * (`spark.jobGroup.id`), from which a group's totals and stage count
  * derive. Every job an action spawns (AQE re-plans and broadcast
  * builds included — they inherit the submitting thread's job group)
  * lands under the same label.
  *
  * [[run]] is the one labeled-run sequence: label, build, execute via
  * the noop sink, clear the label, quiesce, read. */
final class JobGroupCollector private (spark: SparkSession)
    extends SparkListener with AutoCloseable {

  /** Live accumulator of one stage; written on the bus thread under its
    * own lock, read only through [[snapshot]]. */
  private final class Acc(val group: String, val name: String) {
    var wallMs = 0L
    var res = ResourceStats()
    def snapshot(id: Int): StageStats = synchronized(StageStats(id, name, wallMs, res))
  }
  private val rows = TrieMap.empty[Int, Acc]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val grp =
      if (e.properties == null) null
      else e.properties.getProperty("spark.jobGroup.id")
    // a resubmitted attempt keeps accumulating into the same row
    if (grp != null) rows.getOrElseUpdate(e.stageInfo.stageId,
      new Acc(grp, e.stageInfo.name))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (a <- rows.get(e.stageId); m = e.taskMetrics; if m != null)
      a.synchronized {
        a.res = a.res + ResourceStats(1L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory)
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (a <- rows.get(info.stageId); s <- info.submissionTime;
         c <- info.completionTime)
      a.synchronized { a.wallMs = c - s }
  }

  /** Stages of `group`, stage-id ordered (execution order). */
  def stages(group: String): Seq[StageStats] =
    rows.toSeq.collect { case (id, a) if a.group == group => a.snapshot(id) }
      .sortBy(_.stageId)

  /** Label a run `label`, build its frame, execute it through the noop
    * sink (full execution, nothing collected), and read back its rows.
    * Construction runs under the label too: eager jobs a query issues
    * while building (checkpoints, fixture builds) are part of its cost.
    * Rows an earlier run under the same label left are dropped first. */
  def run(label: String)(build: => DataFrame): LabeledRun = {
    rows.filterInPlace { case (_, a) => a.group != label }
    val sc = spark.sparkContext
    sc.setJobGroup(label, label, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val outcome =
      try {
        val df = build
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        Right(((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6))
      } catch { case e: Throwable => Left(e) }
      finally sc.clearJobGroup()
    quiesce()
    LabeledRun(label, outcome.toOption.map(_._1), outcome.toOption.map(_._2),
      stages(label), outcome.left.toOption)
  }

  /** Wait until the listener bus has delivered every event posted so
    * far. Preferred path: the bus's own `waitUntilEmpty` (exact — see
    * [[JobGroupCollector.busDrained]]); fallback: [[awaitSettled]]. */
  private def quiesce(): Unit =
    if (!JobGroupCollector.busDrained(spark.sparkContext, 10000))
      awaitSettled(settleMs = 300, maxWaitMs = 10000)

  /** Poll the total task count until it holds still for `settleMs` — a
    * heuristic that can under-count if the bus stalls longer than the
    * settle window mid-drain, hence the stderr warning when `maxWaitMs`
    * is exhausted without stability. */
  private[metrics] def awaitSettled(settleMs: Long, maxWaitMs: Long): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var last = -1L
    var stableSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      // read under each row's lock — establishes the happens-before
      // edge with the bus thread's synchronized writes
      val now = rows.values.map(a => a.synchronized(a.res.tasks)).sum
      if (now != last) { last = now; stableSince = System.nanoTime() }
      else if (System.nanoTime() - stableSince > settleMs * 1000000L) return
      Thread.sleep(50)
    }
    System.err.println(
      s"[JobGroupCollector] quiesce: task count never held still for " +
        s"${settleMs}ms within ${maxWaitMs}ms — snapshot may under-count")
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object JobGroupCollector {
  /** A collector registered on `spark`'s listener bus; [[close]] it
    * (or use `scala.util.Using`) to stop recording. */
  def attach(spark: SparkSession): JobGroupCollector = {
    val c = new JobGroupCollector(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Reflective `sc.listenerBus.waitUntilEmpty(timeoutMs)` — exact (an
    * empty bus means every posted event was delivered), but
    * `private[spark]` in source, so it is reached through the
    * bytecode-public accessors. Returns true iff the bus reported empty
    * (TimeoutException / any reflection failure → false, and callers
    * fall back to settle polling). */
  private[graft] def busDrained(
      sc: org.apache.spark.SparkContext, timeoutMs: Long): Boolean =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(timeoutMs))
      true
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause.isInstanceOf[java.util.concurrent.TimeoutException] =>
        System.err.println(
          s"[JobGroupCollector] quiesce: listener bus still busy after " +
            s"${timeoutMs}ms — falling back to settle polling")
        false
      case _: Throwable => false
    }
}
