package graft.engine

import graft.filter.{FilterChain, FilterSpec}
import graft.model.ConsumerState
import graft.sideline._
import graft.sources.LogSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The engine facade — plays the role of the reference's
 * SidelineSpoutHandler + SidelineController
 * (sideline/handler/SidelineSpoutHandler.java:69-709,
 * sideline/handler/SidelineController.java:35): owns the lifecycle of
 * sideline requests against one log source, persists every transition to
 * the control store, and hands out the *declarative* DataFrames for the
 * firehose and each sideline replay.
 *
 * Differences from the reference, by design (SURVEY.md §7.4):
 *  - No threads, no buffers: the firehose and each replay are separate
 *    Spark jobs/queries; concurrency is Spark's scheduler, fairness is
 *    scheduler pools (see [[graft.engine.QueryCoordinator]]).
 *  - Offset snapshots are taken from the log's current high watermark at
 *    transition time (the reference snapshots consumer positions —
 *    SidelineSpoutHandler.java:359-383). That is exact only while the
 *    firehose is quiesced: under a live firehose START's log-end snapshot
 *    can sit above rows no batch has consumed yet, and those rows are
 *    dropped and never replayed (ROADMAP open item 1, Defect A). A live
 *    RESOLVE must stamp its ending from committed progress instead —
 *    [[graft.streaming.StreamingFirehose.FirehoseHandle.resolveAtCommitted]];
 *    START has no such twin yet.
 *  - The firehose predicate set is re-derived per call (per micro-batch in
 *    streaming) from the persisted control rows instead of a live
 *    ConcurrentHashMap — same visibility, no race.
 */
final class SidelineEngine(val log: LogSource, val store: ControlStore) {

  /** Steps currently dropping rows from the firehose: every request in
   * START or RESUME state (reference removes the filter at resolve —
   * SidelineSpoutHandler.resolve:488-537). */
  def activeChain(): FilterChain =
    store.list().filter(_.sidelineType != SidelineType.Resolve)
      .foldLeft(FilterChain.empty)((c, p) => c.withStep(p.id, p.step))

  /** START: snapshot current offsets, persist, firehose drops matches from
   * here on (SidelineSpoutHandler.start:359-383). */
  def start(req: SidelineRequest, spark: SparkSession): SidelinePayload = {
    require(store.retrieve(req.id).isEmpty, s"sideline ${req.id} already exists")
    val snapshot = log.currentState(spark)
    val payload = SidelinePayload(req.id, SidelineType.Start, req.step, snapshot, None)
    store.persist(payload)
    payload
  }

  /** RESUME: the sidelined rows become readable in parallel with the
   * firehose (reference launches a negated-filter virtual spout —
   * SidelineSpoutHandler.resume:404-466). */
  def resume(id: String): SidelinePayload = {
    val p = require2(id).transitionTo(SidelineType.Resume)
    store.persist(p)
    p
  }

  /** RESOLVE: stop dropping on the firehose, stamp the ending offsets; the
   * replay window is now closed and drainable
   * (SidelineSpoutHandler.resolve:488-537).
   *
   * Alignment caveat (streaming): this convenience form snapshots the
   * log's CURRENT high watermark, which is only batch-aligned if the
   * firehose is quiesced (stopped or between triggers). A micro-batch
   * planned before the RESOLVE whose foreachBatch runs after it would
   * re-read the chain without this step and double-emit rows ≤ ending.
   * When a firehose is live, snapshot the ending from the firehose's own
   * committed progress and call [[resolveAt]] instead — the reference has
   * the same window and closes it by ordering filters before the firehose
   * start (SidelineSpoutHandler.java:316-321). */
  def resolve(id: String, spark: SparkSession): SidelinePayload =
    resolveAt(id, log.currentState(spark))

  /** RESOLVE with a caller-supplied ending snapshot — use the offsets of
   * the firehose's last COMMITTED micro-batch (StreamingQueryProgress
   * sources.endOffset) so the replay bound coincides with a batch boundary
   * the firehose actually observed with the filter still active. */
  def resolveAt(id: String, ending: ConsumerState): SidelinePayload = {
    val p = require2(id).transitionTo(SidelineType.Resolve)
      .copy(endingState = Some(ending))
    store.persist(p)
    p
  }

  /** Completion cleanup — reference
   * SidelineVirtualSpoutHandler.onVirtualSpoutCompletion:73-92. Idempotent:
   * clearing a missing id is a no-op, so a crashed-and-replayed completion
   * cannot fail (SURVEY.md §7.4 double-fire note). */
  def complete(id: String): Unit = store.clear(id)

  /** The firehose: everything from `from` (exclusive watermark) onward that
   * no active sideline drops. `from = ConsumerState.empty` reads from the
   * beginning. */
  def firehose(spark: SparkSession,
      from: ConsumerState = ConsumerState.empty): DataFrame =
    activeChain().applyKeep(log.readBounded(spark, from, None))

  /** A sideline replay: ONLY the rows request `id`'s step dropped, within
   * [startingState, endingState) — endingState open while RESUMEd, closed
   * once RESOLVEd. The negation is the reference's NegatingFilterChainStep
   * (dynamic/filter/NegatingFilterChainStep.java:33-63). */
  def sidelineReplay(id: String, spark: SparkSession): DataFrame = {
    val p = require2(id)
    require(p.sidelineType != SidelineType.Start,
      s"sideline $id not resumed yet — no replay exists in START state")
    p.step.applySidelined(log.readBounded(spark, p.startingState, p.endingState))
  }

  /** Streaming RESUME (SL2's live parallel catch-up): an unbounded
    * streaming read from the start snapshot with the NEGATED predicate,
    * to be launched as a second query under the coordinator (own pool /
    * rate cap). At RESOLVE the coordinator stops this stream and drains
    * the now-closed window with the batch [[sidelineReplay]] — the
    * SURVEY §2.9 SL3 mapping ("flip sideline query to bounded"). */
  def sidelineReplayStream(id: String, spark: SparkSession,
      source: graft.sources.LogSource): DataFrame = {
    val p = require2(id)
    require(p.sidelineType == SidelineType.Resume,
      s"sideline $id is ${p.sidelineType.name}, stream replay needs RESUME")
    p.step.applySidelined(source.readStreamFrom(spark, p.startingState))
  }

  /** Current lifecycle state of a request, if any. */
  def status(id: String): Option[SidelineType] =
    store.retrieve(id).map(_.sidelineType)

  /** The control-plane facade handed to [[graft.sideline.SidelineTrigger]]s
   * (reference SidelineController.java:35, wired at
   * SidelineSpoutHandler.createSidelineTriggers:650-672). Closes over the
   * session so external signal sources never need Spark handles. */
  def controller(spark: SparkSession): SidelineController = {
    val self = this
    new SidelineController {
      override def isStarted(id: String): Boolean =
        self.status(id).contains(SidelineType.Start)
      override def isResumed(id: String): Boolean =
        self.status(id).contains(SidelineType.Resume)
      override def isResolving(id: String): Boolean =
        self.status(id).contains(SidelineType.Resolve)
      override def start(req: SidelineRequest): SidelinePayload =
        self.start(req, spark)
      override def resume(id: String): SidelinePayload = self.resume(id)
      override def resolve(id: String): SidelinePayload = self.resolve(id, spark)
    }
  }

  /** Restart recovery — reference loadSidelines
   * (SidelineSpoutHandler.java:227-322): list persisted requests and
   * return what must be running. The caller (coordinator/reconcile loop)
   * re-launches replays for RESUME/RESOLVE entries; the firehose picks up
   * filters via activeChain() before its first batch, preserving the
   * reference's filters-before-firehose-start ordering (:316-321). */
  def loadSidelines(): Seq[SidelinePayload] = store.list()

  private def require2(id: String): SidelinePayload =
    store.retrieve(id).getOrElse(
      throw new NoSuchElementException(s"no sideline request $id"))
}

object SidelineEngine {
  /** Convenience: new engine with a fresh in-memory store (tests). */
  def inMemory(log: LogSource): SidelineEngine =
    new SidelineEngine(log, new InMemoryControlStore)
}
