package sidebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.engine.{QueryCoordinator, SidelineEngine}
import graft.filter.FilterSpec
import graft.sideline.{FileControlStore, SidelineRequest}
import graft.sources.GraftLogSource
import graft.streaming.{BoundedDrain, StreamingFirehose}
import org.apache.spark.sql.streaming.Trigger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** firehose_live: an open-loop publisher renames pre-staged graftlog
  * segments into the log on a fixed schedule while the firehose runs
  * under a FAIR coordinator, and one sideline request cycles START →
  * RESUME → RESOLVE → bounded drain → complete, each call issued right
  * after a firehose batch commits. */
object Live {
  val Partitions = 8
  val RowsPerSegment = 400
  val SegmentsPerSecond = 12
  val TriggerMs = 2000L
  val CallLeadMs = 200.0
  val WarmupCycles = 2
  /** The run length sets the number of timed cycles: one per 3 s (eight
    * at 25 s). A cycle takes two or three trigger intervals, so the timed
    * phase lasts about 1.6 times the run length. */
  def timedCycles(seconds: Int): Int = math.max(3, math.round(seconds / 3.0).toInt)
  /** Cycle length the segment supply allows for: three trigger
    * intervals. */
  val MaxCycleMs = 3 * TriggerMs
  /** No timed cycle starts later than this after the driver started, so
    * a run on a badly slowed host (cycles of 3.5 intervals on average at
    * ~20 % CPU steal) neither runs out of segments nor overruns the
    * runner's time limit; it attempts fewer cycles. */
  val CycleDeadlineMs = 100000.0
  val BlockedUsers = 10
  val Request: FilterSpec = FilterSpec.KeyIn("value", Seq("error"))

  /** One lifecycle: when START and RESOLVE were issued and returned,
    * when the first batch dropping the request's rows committed and when
    * the drain completed, plus the call durations and the rows START's
    * own log-end snapshot would have lost. */
  final case class Cycle(startIssueMs: Double, startMs: Double, firstDropMs: Double,
      resolveIssueMs: Double, resolveMs: Double, doneMs: Double, resumeCallMs: Double,
      replayCallMs: Double, drainStartupMs: Double, drainBatches: Int, gapRows: Long, ok: Boolean) {
    def startCallMs: Double = startMs - startIssueMs
    def resolveCallMs: Double = resolveMs - resolveIssueMs
    /** Lifecycle time spent in calls and the drain, not in waits for a
      * trigger slot. */
    def busyMs: Double = startCallMs + resumeCallMs + replayCallMs + (doneMs - resolveIssueMs)
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    // segments for the warm-up and the timed phase, every cycle at
    // MaxCycleMs, and the wait for the first trigger and the closing batch
    val supplySeconds = (WarmupCycles + timedCycles(seconds)) * MaxCycleMs / 1000 + 15
    val perPartition = 3 * math.ceil(supplySeconds * SegmentsPerSecond / Partitions / 3).toInt
    val gen = new LogGen(seed, Partitions, perPartition * RowsPerSegment, BlockedUsers)
    val nSegs = perPartition * Partitions

    // staging in three equal parts; setup counts three times the median
    val stageS = mutable.ArrayBuffer.empty[Double]
    var files = Map.empty[(Int, Int), java.nio.file.Path]
    for (r <- 0 until 3) {
      val t0 = Clock.ms()
      files ++= tracer.span("sources", "stage_segments") {
        Streams.stageSegments(gen, RowsPerSegment,
          r * perPartition / 3 until (r + 1) * perPartition / 3, dir(s"stage$r"))
      }
      stageS += (Clock.ms() - t0) / 1000
    }
    rec.setup("stage_s") = stageS.toSeq
    rec.setup("stage_parts") = 3
    val setupT0 = Clock.ms()

    val logDir = dir("log")
    def publish(s: Int): Unit = {
      val (p, j) = (s % Partitions, s / Partitions)
      val target = Paths.get(logDir, s"partition=$p", f"seg-$j%06d.parquet")
      Files.createDirectories(target.getParent)
      Files.move(files((p, j)), target, StandardCopyOption.ATOMIC_MOVE)
    }
    (0 until Partitions).foreach(publish)

    val src = GraftLogSource(logDir, "live")
    val handle = new StreamingFirehose.FirehoseHandle
    val fileStore = new FileControlStore(dir("control"))
    val timing = if (trace) Some(new TimingStore(fileStore)) else None
    val view = new ConsumerView(src, handle)
    val engine = new SidelineEngine(view, timing.getOrElse(fileStore))
    engine.start(SidelineRequest("standing", FilterSpec.KeyIn("key", gen.blockedKeys)), spark)
    val coord = new QueryCoordinator(spark)
    val metrics = TrieMap.empty[Long, StreamingFirehose.BatchMetrics]
    val sinkSums = TrieMap.empty[Long, Sums]

    // publisher: due times align to the trigger clock (Spark fires a
    // ProcessingTime trigger at wall-clock multiples of the interval)
    val periodMs = 1000.0 / SegmentsPerSecond
    val wall = System.currentTimeMillis()
    val boundary = (wall / TriggerMs + 3) * TriggerMs
    val t0 = Clock.ms() + (boundary - wall) + 10
    def due(s: Int): Double = t0 + (s - Partitions) * periodMs
    val sent = Array.fill(nSegs)(Double.NaN)
    (0 until Partitions).foreach(s => sent(s) = Clock.ms())
    @volatile var stopPublishing = false
    @volatile var published = Partitions
    val publisher = new Thread(() => {
      var s = Partitions
      while (!stopPublishing && s < nSegs) {
        Clock.sleepUntilMs(due(s))
        if (!stopPublishing) {
          publish(s)
          sent(s) = Clock.ms()
          s += 1
          published = s
        }
      }
    }, "sidebench-publisher")
    publisher.setDaemon(true)

    val q = tracer.span("streaming", "firehose.launch") {
      coord.launch("firehose", "firehose") {
        StreamingFirehose.run(src.readStreamFrom(spark), engine,
          mainSink = (df, id) => sinkSums(id) = Sums.of(df),
          onMetrics = m => metrics(m.batchId) = m,
          checkpointLocation = Some(dir("ckpt")),
          trigger = Trigger.ProcessingTime(TriggerMs),
          queryName = "live-firehose",
          handle = Some(handle))
      }
    }
    publisher.start()
    val launchS = (Clock.ms() - setupT0) / 1000

    def nextCommit(): ProgressLog#Ev =
      progress.next(q.id, 20000).getOrElse(
        throw new IllegalStateException("firehose committed no batch for 20 s"))
    // Spark fires a ProcessingTime trigger at the first wall-clock
    // multiple of the interval after the previous trigger started; a
    // control call lands CallLeadMs before that boundary, while the
    // firehose is idle, so its latency carries no phase of the batch loop
    val wallToClock = Clock.ms() - System.currentTimeMillis()
    def idleSlot(after: Option[ProgressLog#Ev]): Unit = {
      var ev = after.getOrElse(nextCommit())
      var slot = Double.NaN
      while (slot.isNaN) {
        val started = java.time.Instant.parse(ev.p.timestamp).toEpochMilli
        val next = (started / TriggerMs + 1) * TriggerMs + wallToClock
        if (Clock.ms() < next - CallLeadMs - 50) slot = next - CallLeadMs
        else ev = nextCommit()
      }
      while (progress.next(q.id, 0).isDefined) ()
      Clock.sleepUntilMs(slot)
    }

    val windows = mutable.ArrayBuffer.empty[(Map[Int, Long], Map[Int, Long])]
    def cycle(c: Int): Cycle = {
      val id = s"req-$c"
      idleSlot(None)
      val c0 = Clock.ms()
      val started = tracer.span("engine", "start", id)(engine.start(SidelineRequest(id, Request), spark))
      val startMs = Clock.ms()
      val gapRows = view.lastSnapshot.map { case (end, com) =>
        gen.ranges(Streams.until(com), Streams.until(end), LogGen.All).n }.getOrElse(0L)
      var drop: ProgressLog#Ev = null
      while (drop == null) {
        val ev = nextCommit()
        val (from, to) = Streams.range(ev)
        val standing = gen.ranges(from, to, LogGen.Standing).n
        if (metrics.get(ev.p.batchId).exists(_.filtered > standing)) drop = ev
        if (Clock.ms() - startMs > 20000) throw new IllegalStateException(s"$id never dropped")
      }
      val r0 = Clock.ms()
      tracer.span("engine", "resume", id)(engine.resume(id))
      val resumeCall = Clock.ms() - r0
      val p0 = Clock.ms()
      val replay = tracer.span("engine", "sideline_replay_stream", id)(
        engine.sidelineReplayStream(id, spark, src))
      val replayCall = Clock.ms() - p0
      idleSlot(Some(drop))
      val v0 = Clock.ms()
      val resolved = tracer.span("engine", "resolve_at_committed", id)(
        handle.resolveAtCommitted(engine, id))
      val resolveMs = Clock.ms()
      val ending = resolved.endingState.get
      val done = new CountDownLatch(1)
      @volatile var doneMs = Double.NaN
      var drained = Sums.zero
      val name = s"drain-$c"
      val d0 = Clock.ms()
      val dq = tracer.span("streaming", "drain.launch", id) {
        coord.launch(name, "drain") {
          BoundedDrain.run(replay, ending,
            sink = (df, _) => { val s = Sums.of(df); synchronized { drained = drained + s } },
            queryName = name,
            onComplete = () => { doneMs = Clock.ms(); done.countDown() })
        }
      }
      val drainStartup = Clock.ms() - d0
      val finished = tracer.span("streaming", "drain.wait", id)(done.await(20, TimeUnit.SECONDS))
      coord.completed(name)
      // a drain that never completed would keep running beside the next
      // cycles
      if (finished) dq.awaitTermination(10000) else dq.stop()
      engine.complete(id)
      val from = Streams.until(started.startingState)
      val to = Streams.until(ending)
      windows += ((from, to))
      val expected = gen.ranges(from, to, LogGen.Request)
      val got = synchronized(drained)
      val ok = finished && got == expected
      rec.gate("drain_parity", ok, s"$id drained $got, expected $expected")
      Cycle(c0, startMs, drop.atMs, v0, resolveMs, doneMs, resumeCall, replayCall,
        drainStartup, progress.events(dq.id).size, gapRows, ok)
    }

    // warm-up: the first (cold) batch, then two whole untimed cycles.
    // It counts in set-up as work done, not as wall time: the launch,
    // the first batch, the cycles' batches, calls and drains. The waits
    // for the first trigger and for idle slots are scheduled sleeps, and
    // the plain batches between them depend on where the slots fell;
    // both stay out.
    Clock.sleepUntilMs(t0)
    val warm = mutable.ArrayBuffer.empty[Cycle]
    for (c <- 0 until WarmupCycles) rec.op(s"warmup_cycle_$c") { val cy = cycle(c); warm += cy; cy.ok }
    val tA = Clock.ms()
    val warmBatches = progress.events(q.id).filter(_.atMs < tA).sortBy(_.p.batchId).zipWithIndex.collect {
      case (ev, i) if i == 0 || warm.exists { cy =>
        val begin = ev.atMs - ev.dur("triggerExecution")
        begin >= cy.startIssueMs && begin <= cy.doneMs } => ev
    }
    rec.info("warmup_parts_s") = Map("launch" -> launchS,
      "batches" -> warmBatches.map(_.dur("triggerExecution")).sum / 1000,
      "cycles" -> warm.map(_.busyMs).sum / 1000, "n_batches" -> warmBatches.size)
    rec.setup("warmup_s") = launchS +
      warmBatches.map(_.dur("triggerExecution")).sum / 1000 + warm.map(_.busyMs).sum / 1000
    // a fixed number of cycles for the run length, as in batch_ops: the
    // cycles keep getting faster for a while after warm-up, so a count
    // that followed the host's speed would change what the medians see
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    for (c <- WarmupCycles until WarmupCycles + timedCycles(seconds) if Clock.ms() < CycleDeadlineMs) {
      var cy: Cycle = null
      rec.op(s"cycle_$c") { cy = cycle(c); cy.ok }
      if (cy != null && cy.ok) cycles += cy
    }
    // the batch beside the last drain may commit after the drain ends;
    // the timed phase closes once a batch that began later has committed
    val lastDone = cycles.lastOption.map(_.doneMs).getOrElse(Clock.ms())
    val settle = Clock.ms() + 10000
    while (Clock.ms() < settle &&
        !progress.events(q.id).exists(ev => ev.atMs - ev.dur("triggerExecution") > lastDone))
      progress.next(q.id, 500)
    val tB = Clock.ms()

    // let the firehose consume everything published, then stop
    stopPublishing = true
    publisher.join()
    val lastPublished = published
    val publishedUntil = (0 until Partitions).map { p =>
      p -> (0 until lastPublished).count(_ % Partitions == p).toLong * RowsPerSegment
    }.toMap
    val deadline = Clock.ms() + 30000
    while (Streams.until(handle.committedState) != publishedUntil && Clock.ms() < deadline)
      progress.next(q.id, 1000)
    coord.close()
    val consumed = Streams.until(handle.committedState)
    rec.gate("firehose_consumed_all", consumed == publishedUntil, s"$consumed vs $publishedUntil")
    val expectedEmitted = gen.ranges(Map.empty, consumed, LogGen.All) -
      gen.ranges(Map.empty, consumed, LogGen.Standing) -
      windows.foldLeft(Sums.zero) { case (a, (f, t)) => a + gen.ranges(f, t, LogGen.Request) }
    val emitted = sinkSums.values.foldLeft(Sums.zero)(_ + _)
    rec.gate("firehose_parity", emitted == expectedEmitted, s"emitted $emitted expected $expectedEmitted")

    // open-loop latency per segment: due time -> commit of its batch
    val events = progress.events(q.id).sortBy(_.p.batchId)
    val ends = events.map(ev => ev -> Streams.range(ev)._2)
    val segs = (Partitions until lastPublished).map { s =>
      val (p, j) = (s % Partitions, s / Partitions)
      val need = (j + 1).toLong * RowsPerSegment
      val commit = ends.find(_._2.getOrElse(p, 0L) >= need).map(_._1.atMs).getOrElse(Double.NaN)
      Seq(due(s), sent(s), commit)
    }
    rec.samples("units") = segs
    rec.samples("window_ms") = Seq(tA, tB)
    // one operation: START issued until its first dropping batch
    // commits, plus RESOLVE issued until the bounded drain completes
    // (each part's median)
    rec.samples("op_parts") = Map(
      "start" -> cycles.map(cy => (cy.firstDropMs - cy.startIssueMs) / 1000),
      "drain" -> cycles.map(cy => (cy.doneMs - cy.resolveIssueMs) / 1000))
    // open loop: the input rate is the schedule's, so the throughput
    // reported is rows per second of micro-batch time (the headroom).
    // A cycle spans two batches, one that drops the request's rows and
    // one that shares the cores with the drain, about 1.8x slower; the
    // rate is taken per cycle so every sample holds one of each
    rec.samples("batches") = for {
      ev <- events
      begin = ev.atMs - ev.dur("triggerExecution")
      (cy, k) <- cycles.zipWithIndex.find { case (cy, _) => begin >= cy.startIssueMs && begin <= cy.doneMs }
    } yield Map("rows" -> ev.p.numInputRows, "busy_ms" -> ev.dur("triggerExecution"),
      "end_ms" -> ev.atMs, "group" -> k)
    rec.samples("cycles") = cycles.map(cy => Map(
      "start_ms" -> cy.startMs, "first_drop_ms" -> cy.firstDropMs,
      "resolve_ms" -> cy.resolveMs, "done_ms" -> cy.doneMs))
    rec.samples("start_gap_rows") = cycles.map(_.gapRows)
    rec.info("batches") = events.size
    rec.info("timed_cycles") = cycles.size
    rec.info("timed_s") = (tB - tA) / 1000

    if (trace) {
      val timed = events.filter(ev => ev.atMs >= tA && ev.atMs < tB)
      for (ev <- events) tracer.record("streaming", "firehose.batch",
        ev.atMs - ev.dur("triggerExecution"), ev.atMs, ev.p.batchId.toString)
      val L = rec.layer
      L("sources.latest_offset_ms") = Streams.median(timed.map(_.dur("latestOffset")))
      L("sources.lag_rows_max") = timed.map { ev =>
        val pub = segs.indices.count(i => segs(i)(1) <= ev.atMs) + Partitions
        pub.toDouble * RowsPerSegment - Streams.range(ev)._2.values.sum
      }.maxOption.getOrElse(0.0)
      L("generator.late_ms_max") = segs.filter(s => s(0) >= tA && s(0) < tB)
        .map(s => s(1) - s(0)).maxOption.getOrElse(0.0)
      streamingLayer(ctx, q.id, timed)
      val lists = timing.get.listMs.asScala.toSeq.filter { case (t, _) => t >= tA && t < tB }
      L("sideline.store_list_ms") = Streams.median(lists.map(_._2))
      L("sideline.store_list_calls") = lists.size.toDouble
      L("sideline.start_gap_rows") = Streams.median(cycles.map(_.gapRows.toDouble))
      L("engine.start_ms") = Streams.median(cycles.map(_.startCallMs))
      L("engine.resume_ms") = Streams.median(cycles.map(_.resumeCallMs))
      L("engine.resolve_ms") = Streams.median(cycles.map(_.resolveCallMs))
      L("drain.startup_ms") = Streams.median(cycles.map(_.drainStartupMs))
      L("drain.batches") = Streams.median(cycles.map(_.drainBatches.toDouble))
    }
    Main.rm(work.resolve("log")); Main.rm(work.resolve("ckpt"))
    (0 until 3).foreach(r => Main.rm(work.resolve(s"stage$r")))
  }

  /** streaming.* from the firehose's timed batches. */
  def streamingLayer(ctx: Ctx, id: java.util.UUID, timed: Seq[ProgressLog#Ev]): Unit = {
    val L = ctx.rec.layer
    ctx.jobs.foreach(_.quiesce())
    val accs = timed.flatMap(ev => ctx.jobs.flatMap(_.batch(id, ev.p.batchId)))
    L("streaming.add_batch_ms") = Streams.median(timed.map(_.dur("addBatch")))
    L("streaming.commit_ms") = Streams.median(timed.map(ev => ev.dur("walCommit") + ev.dur("commitOffsets")))
    L("streaming.jobs_per_batch") = Streams.mean(accs.map(_.jobs.toDouble))
    L("streaming.tasks_per_batch") = Streams.mean(accs.map(_.tasks.toDouble))
    L("streaming.rows_per_batch") = Streams.mean(timed.map(_.p.numInputRows.toDouble))
    L("spark.input_bytes_per_row") =
      accs.map(_.inputBytes).sum.toDouble / math.max(1L, accs.map(_.inputRecords).sum)
  }
}
