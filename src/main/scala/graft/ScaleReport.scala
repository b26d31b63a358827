package graft

import graft.metrics.{JobGroupCollector, ResourceStats}
import org.apache.spark.sql.SparkSession

/**
 * EMPIRICAL scaling sweep (r16): every "scale-correct" adjudication of
 * the heavy operator family so far rests on plan reading; this artifact
 * measures the curve instead. The heavy family (the most expensive
 * queries, plus — r17 — every remaining pair-generating dedup, the
 * seeded-quantizer face, and the iterative BPE trainer: the classes
 * where superlinearity hides) runs at
 * the real sf0.1 corpus, a fitted synthetic 1× twin, and the same
 * generator's 10× corpus ([[ScaleCorpus]]); each point records wall
 * (min of 2 — artifact/codegen warm-up excluded), shuffle bytes, spill,
 * peak task memory, and task count, plus the ×10/×1 ratios the claim
 * lives on: wall and shuffle growing ≲ linearly in rows, zero spill,
 * peak task memory flat (it is partition-sized, not data-sized).
 *
 * Also attributes `pipeline_curate_full`'s fixed job latency PER STAGE
 * ([[JobGroupCollector]] stage rows) — the per-stage wall/task/shuffle
 * table that replaces the "fixed overhead across ~11 stages" inference.
 */
object ScaleReport {

  val HeavyFamily: Seq[String] = Seq("dedup_clusters", "dedup_clusters_star",
    "pipeline_curate_full", "knn_graph", "dedup_containment",
    "match_entities", "dedup_embedding_cosine",
    // r17: the remaining pair-generating dedups, the seeded-quantizer
    // face, and the iterative tokenizer trainer — every query class
    // where superlinear candidate mass or chain re-expansion can hide
    "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_semantic",
    "tokenize_bpe_encode")

  val ScaleBase: String = "/tmp/graft_scale"
  val Seed = 2016L

  /** Generate the fitted synthetic corpora if absent (deterministic —
    * a present directory is always the same bytes). */
  def ensureCorpora(spark: SparkSession, realDir: String): (String, String) = {
    val x1 = s"$ScaleBase/x1"
    val x10 = s"$ScaleBase/x10"
    def missing(d: String) =
      !new java.io.File(s"$d/customer.parquet").exists()
    if (missing(x1)) ScaleCorpus.generate(spark, realDir, x1, 1, Seed)
    if (missing(x10)) ScaleCorpus.generate(spark, realDir, x10, 10, Seed)
    (x1, x10)
  }

  /** Deterministic JVM settle between measured runs and query rows
    * (r18 verdict task 3 + the ×30 disk budget): long-sweep JVM state
    * was the measured source of BOTH failure modes this addresses —
    * (a) wall-only gate suspects that never reproduce solo
    * (`dedup_clusters_star` 3.16× in-sweep vs 1.30× solo,
    * `dedup_containment_heaps` 2.70× vs 1.62×, r18 §11: lingering
    * localCheckpoint blocks shrink the unified memory pool and
    * promoted-heap pressure lands on whichever row runs next), and
    * (b) shuffle files of FINISHED jobs awaiting ContextCleaner, whose
    * accumulation across a min-of-2 + output-count row at ×30
    * candidate mass (~27 GB/run) overran the host filesystem. Drop
    * every persistent RDD (between rows nothing may legitimately stay
    * cached — queries unpersist their own frames; localCheckpoint
    * blocks are plan-internal leftovers, and no memo in the tree holds
    * a live DataFrame), then GC twice so the cleaner's reference queue
    * drains and shuffle files delete before the next run starts.
    *
    * SAFE ONLY BETWEEN FULLY-REBUILT FRAMES: unpersisting a
    * localCheckpointed RDD truncates its lineage — a caller holding a
    * checkpointed frame ACROSS a settle() gets
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on next use (measured: the
    * two-level recall p-loop, docs/PLANS_r19.md). Every sweep row
    * rebuilds its frames from SparkEntry.queries, which is what makes
    * the hook sound here. */
  def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(400) }
  }

  private def runLabeled(spark: SparkSession, collector: JobGroupCollector,
      q: String, dir: String, label: String): (Double, ResourceStats) = {
    // every measured run starts from the same JVM state: no foreign
    // cached blocks, cleaner queue drained, heap compacted
    settle(spark)
    val r = collector.run(label)(SparkEntry.queries(q)(spark, dir)).checked
    (r.wallSec.get, r.totals)
  }

  private def d2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  // mem and disk spill reported SEPARATELY: memoryBytesSpilled counts
  // the inflated in-memory footprint released (typically ~10× the disk
  // bytes) — judging "zero spill" on the combined number overstates it
  private def pointJson(wall: Double, r: ResourceStats): String =
    s"""{"wall_sec": ${d2(wall)}, """ +
      s""""shuffle_write_bytes": ${r.shuffleWriteBytes}, """ +
      s""""shuffle_read_bytes": ${r.shuffleReadBytes}, """ +
      s""""mem_spill_bytes": ${r.memSpillBytes}, """ +
      s""""disk_spill_bytes": ${r.diskSpillBytes}, """ +
      s""""peak_task_memory_bytes": ${r.peakTaskMemory}, """ +
      s""""input_bytes": ${r.inputBytes}, "tasks": ${r.tasks}}"""

  /** Generate the Heaps-law documents corpora if absent — the
    * growing-vocabulary face the containment-dedup scaling claim is
    * judged on ([[ScaleCorpus.fitHeaps]]). */
  def ensureHeaps(spark: SparkSession, realDir: String): (String, String) = {
    val hx1 = s"$ScaleBase/hx1"
    val hx10 = s"$ScaleBase/hx10"
    def missing(d: String) =
      !new java.io.File(s"$d/documents.parquet").exists()
    if (missing(hx1)) ScaleCorpus.generateHeaps(spark, realDir, hx1, 1, Seed)
    if (missing(hx10)) ScaleCorpus.generateHeaps(spark, realDir, hx10, 10, Seed)
    (hx1, hx10)
  }

  /** One query's sweep row: min-of-2 walls + resources per scale point,
    * plus the hi/lo ratios the scaling claim lives on. `ratioSuffix`
    * names the ratio keys (the gate only reads `_ratio_10x` rows — the
    * x30 decade rows are evidence, not gate inputs). */
  private def queryRow(spark: SparkSession, collector: JobGroupCollector,
      q: String, rowName: String, scales: Seq[(String, String)],
      loTag: String, hiTag: String, ratioSuffix: String = "10x"): String = {
    val per = scales.map { case (tag, dir) =>
      // min of 2: run 1 pays one-time artifact builds (FixtureStore)
      // and codegen; run 2 is the steady state the ratio compares
      val runs = (1 to 2).map(i =>
        runLabeled(spark, collector, q, dir, s"$rowName@$tag#$i"))
      // output size is the yardstick superlinear walls are judged
      // against: an operator whose TRUE pair mass is quadratic in
      // this corpus (e.g. cosine pairs at a low threshold) is
      // linear-in-output even when it is superlinear-in-input
      settle(spark)
      val outRows = SparkEntry.queries(q)(spark, dir).count()
      (tag, runs.minBy(_._1), outRows)
    }
    val byTag = per.map(t => t._1 -> ((t._2, t._3))).toMap
    val ((w1, r1), o1) = byTag(loTag)
    val ((w10, r10), o10) = byTag(hiTag)
    val shuffleRatio =
      if (r1.shuffleWriteBytes == 0) 0.0
      else r10.shuffleWriteBytes.toDouble / r1.shuffleWriteBytes
    val body = per.map { case (tag, (w, r), o) =>
      s"""      "$tag": ${pointJson(w, r).dropRight(1)}, "output_rows": $o}"""
    }.mkString(",\n")
    s"""    "$rowName": {
       |$body,
       |      "wall_ratio_$ratioSuffix": ${d2(w10 / w1)},
       |      "shuffle_ratio_$ratioSuffix": ${d2(shuffleRatio)},
       |      "output_ratio_$ratioSuffix": ${d2(o10.toDouble / math.max(1L, o1))},
       |      "peak_mem_ratio_$ratioSuffix": ${d2(
      r10.peakTaskMemory.toDouble / math.max(1L, r1.peakTaskMemory))}
       |    }""".stripMargin
  }

  /** The SECOND-decade family (r17): linear-claim rows measured x1→x30
    * so the extrapolation is judged from two decades, not one. At x30
    * the embeddings corpus is 60k vectors → nlist 240, still on the
    * literal-centroid face; the BROADCAST-quantizer face past
    * LiteralCentroidMax is measured separately by the one-off xcap
    * drive (docs/PLANS_r17.md — 520× embeddings, nlist 4160) plus the
    * SeededQuantizerFaceSuite occupancy pin. The x30 rows carry
    * `_ratio_30x` keys the regression gate deliberately ignores
    * (evidence, not gate input). */
  val DecadeFamily: Seq[String] =
    Seq("knn_graph", "dedup_semantic", "match_entities",
      // r18: the fixed-latency pipeline joins the second decade
      "pipeline_curate_full",
      // r19: the banded cosine-pair family joins it — the previously
      // impossible rows. Under the FIXED 2560-key band space their
      // candidate mass was ~quadratic at any corpus (x30 ≈ 1.1B pairs;
      // the r18 attempt wrote ~54 GB of shuffle before the host
      // filesystem filled). The adaptive band ladder
      // (Similarity.adaptiveBandParams — occupancy-constant rows-per-
      // band, recall-preserving band count) makes candidates
      // OUTPUT-BOUND: measured x30 raw candidates 444M (vs the 1.1B
      // extrapolation), with candidates-per-verified-pair FALLING
      // across decades (see band_census). The rows are real now; the
      // settle() hook keeps the min-of-2 shuffle footprint within the
      // host's disk
      "dedup_embedding_cosine", "dedup_clusters")

  def ensureCorpora30(spark: SparkSession, realDir: String): String = {
    val x30 = s"$ScaleBase/x30"
    if (!new java.io.File(s"$x30/customer.parquet").exists())
      ScaleCorpus.generate(spark, realDir, x30, 30, Seed)
    x30
  }

  def ensureHeaps30(spark: SparkSession, realDir: String): String = {
    val hx30 = s"$ScaleBase/hx30"
    if (!new java.io.File(s"$hx30/documents.parquet").exists())
      ScaleCorpus.generateHeaps(spark, realDir, hx30, 30, Seed)
    hx30
  }

  /** Containment candidate CENSUS per corpus: how many rows leave each
    * pruning stage ([[graft.operators.Dedup.containmentFrames]]) — the
    * artifact the r17 filter work is judged against. */
  private def censusJson(spark: SparkSession,
      dirs: Seq[(String, String)]): String =
    dirs.map { case (tag, dir) =>
      val fr = graft.operators.Dedup.containmentFrames(spark, dir)
      s"""    "$tag": {"cand_rows": ${fr.candRows.count()}, """ +
        s""""pairs": ${fr.pairs.count()}, """ +
        s""""screen_survivors": ${fr.screened.count()}, """ +
        s""""output_pairs": ${fr.result.count()}}"""
    }.mkString(",\n")

  /** SRP band-candidate CENSUS per corpus (r19): the adaptive band
    * ladder's claim — candidates are OUTPUT-bound, i.e. raw candidates
    * per verified pair must be non-increasing across decades — judged
    * in numbers: the chosen rung, raw candidate mass (with cross-band
    * multiplicity), and the verified pair count. */
  private def bandCensusJson(spark: SparkSession,
      dirs: Seq[(String, String)]): String =
    dirs.map { case (tag, dir) =>
      settle(spark)
      val n = graft.operators.Similarity.embeddingsCountFor(spark, dir)
      val (r, b) = graft.operators.Similarity.adaptiveBandParams(n)
      val raw = graft.operators.Similarity.bandCandidates(spark, dir).count()
      settle(spark)
      val verified =
        graft.operators.Similarity.embeddingCosinePairs(spark, dir).count()
      s"""    "$tag": {"vectors": $n, "rows_per_band": $r, "bands": $b, """ +
        s""""raw_candidates": $raw, "verified_pairs": $verified, """ +
        s""""cand_per_output": ${d2(raw.toDouble / math.max(1L, verified))}}"""
    }.mkString(",\n")

  /** Persisted IVF-PQ probe census (r18 verdict task 5): the serving
    * contract is bytes-read ∝ nprobe/nlist × corpus — a probe must read
    * its nprobe cells' CODE files (plus metadata-sized centroids/books
    * and the shortlist rerank's float fetch), never the whole code
    * layout. Build the index once per corpus (fixture), probe ONE query
    * (so exactly nprobe cells are touched), and record: the on-disk
    * code bytes total vs the probed cells' bytes (filesystem truth),
    * and the labeled probe run's task-metrics input bytes. */
  private def ivfpqProbeJson(spark: SparkSession, collector: JobGroupCollector,
      dirs: Seq[(String, String)]): String = {
    import org.apache.spark.sql.functions.col
    def duData(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.filter(_.isFile).filterNot(_.getName.startsWith("_"))
        .filterNot(_.getName.startsWith(".")).map(_.length).sum +
        kids.filter(_.isDirectory).map(duData).sum
    }
    dirs.map { case (tag, dir) =>
      settle(spark)
      val path = graft.operators.IvfIndex.ensurePqIndex(spark, dir)
      val emb = graft.Tables.embeddings(spark, dir)
      val q = emb.filter(col("vec_id") === 0L)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
      val cents = graft.operators.IvfIndex.loadCentroids(spark, path)
      val nprobe = 2
      val cells = graft.operators.IvfIndex.rankedCells(cents, q.head._2, nprobe)
      val codesTotal = duData(new java.io.File(s"$path/codes"))
      val probedBytes = cells.map(c =>
        duData(new java.io.File(s"$path/codes/epoch=0/cell=$c"))).sum
      val embBytes = duData(new java.io.File(s"$dir/embeddings.parquet"))
      val r = collector.run(s"ivfpq_probe@$tag")(
        graft.operators.IvfIndex.probePq(spark, path, emb, q, nprobe = nprobe)).checked
      s"""    "$tag": {"nlist": ${cents.size}, "nprobe": $nprobe, """ +
        s""""probed_cells": [${cells.mkString(", ")}], """ +
        s""""codes_total_bytes": $codesTotal, """ +
        s""""probed_cells_bytes": $probedBytes, """ +
        s""""probed_fraction": ${d2(probedBytes.toDouble / math.max(1L, codesTotal))}, """ +
        s""""embeddings_bytes": $embBytes, """ +
        s""""probe_input_bytes": ${r.totals.inputBytes}, """ +
        s""""probe_wall_sec": ${d2(r.wallSec.get)}}"""
    }.mkString(",\n")
  }

  /** Persisted TEXT-index probe census (r20, verdict task 7 — the
    * `ivfpq_probe` discipline applied to the other persisted probe
    * path): the r10 claim is that `search_bm25_indexed`'s probe reads
    * ONLY its query terms' posting partitions. Filesystem truth: total
    * postings bytes vs the probed `term=` directories' bytes, next to
    * the labeled probe run's task-metrics input bytes and the term
    * selectivity (probed terms / vocabulary partitions), per corpus
    * per round. */
  private def textProbeJson(spark: SparkSession, collector: JobGroupCollector,
      dirs: Seq[(String, String)]): String = {
    def duData(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.filter(_.isFile).filterNot(_.getName.startsWith("_"))
        .filterNot(_.getName.startsWith(".")).map(_.length).sum +
        kids.filter(_.isDirectory).map(duData).sum
    }
    dirs.map { case (tag, dir) =>
      settle(spark)
      val path = graft.operators.Search.ensureTextIndex(spark, dir)
      val postingsDir = new java.io.File(s"$path/postings")
      val termDirs = Option(postingsDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("term="))
      val total = duData(postingsDir)
      val terms = graft.operators.Search.QueryTerms
      val probedBytes = terms.map(t =>
        duData(new java.io.File(s"$path/postings/term=$t"))).sum
      val r = collector.run(s"text_probe@$tag")(
        graft.operators.Search.probeTextIndex(spark, path, terms)).checked
      s"""    "$tag": {"query_terms": ${terms.size}, """ +
        s""""term_partitions": ${termDirs.length}, """ +
        s""""term_fraction": ${d2(terms.size.toDouble / math.max(1, termDirs.length))}, """ +
        s""""postings_total_bytes": $total, """ +
        s""""probed_terms_bytes": $probedBytes, """ +
        s""""probed_fraction": ${d2(probedBytes.toDouble / math.max(1L, total))}, """ +
        s""""probe_input_bytes": ${r.totals.inputBytes}, """ +
        s""""probe_wall_sec": ${d2(r.wallSec.get)}}"""
    }.mkString(",\n")
  }

  /** The scaling table as a JSON object body (no surrounding key).
    * `loadAtStart` should be captured at INVOCATION start (before any
    * Spark work): when the sweep is embedded after 15 minutes of
    * measurement (MetricsReport), the 1-minute loadavg otherwise reads
    * this JVM's own just-finished probes as foreign contention. */
  def scalingJson(spark: SparkSession, realDir: String,
      loadAtStart: Option[(Double, Int)] = None): String = {
    val (x1, x10) = ensureCorpora(spark, realDir)
    val (hx1, hx10) = ensureHeaps(spark, realDir)
    // wall ratios from a contended host do not reflect the build (the
    // bench-solo lesson); the sweep records its start conditions so the
    // regression gate can demote wall flags to "suspect" when foreign
    // load was present — shuffle ratios are deterministic either way
    val (loadavg, otherJvms) =
      loadAtStart.getOrElse(graft.metrics.HostLoad.state())
    val contended = graft.metrics.HostLoad.contended(
      Runtime.getRuntime.availableProcessors(), loadavg, otherJvms)
    val collector = JobGroupCollector.attach(spark)
    try {
      val scales = Seq("sf0_1" -> realDir, "x1" -> x1, "x10" -> x10)
      val rows = HeavyFamily.map(q =>
        queryRow(spark, collector, q, q, scales, "x1", "x10")) :+
        // containment on the GROWING-vocabulary corpus: the claim is
        // linear wall/shuffle here; the bounded-vocab twin above is the
        // adversarial worst case (candidates Θ(N²/V) by construction)
        queryRow(spark, collector, "dedup_containment", "dedup_containment_heaps",
          Seq("hx1" -> hx1, "hx10" -> hx10), "hx1", "hx10")
      val x30 = ensureCorpora30(spark, realDir)
      val hx30 = ensureHeaps30(spark, realDir)
      val rows30 = DecadeFamily.map(q =>
        queryRow(spark, collector, q, s"${q}_x30",
          Seq("x1" -> x1, "x30" -> x30), "x1", "x30", "30x")) :+
        queryRow(spark, collector, "dedup_containment",
          "dedup_containment_heaps_x30",
          Seq("hx1" -> hx1, "hx30" -> hx30), "hx1", "hx30", "30x")
      s"""{
         |  "corpus": {"x1": "$x1", "x10": "$x10", "x30": "$x30",
         |    "hx1": "$hx1", "hx10": "$hx10", "hx30": "$hx30",
         |    "seed": $Seed,
         |    "generator": "ScaleCorpus fit-and-sample from $realDir"},
         |  "load": {"loadavg_start": ${d2(loadavg)},
         |    "other_jvms": $otherJvms, "contended": $contended},
         |  "containment_census": {
         |${censusJson(spark, Seq("x1" -> x1, "x10" -> x10,
             "hx1" -> hx1, "hx10" -> hx10))}
         |  },
         |  "band_census": {
         |${bandCensusJson(spark, Seq("x1" -> x1, "x10" -> x10,
             "x30" -> x30))}
         |  },
         |  "ivfpq_probe": {
         |${ivfpqProbeJson(spark, collector, Seq("x1" -> x1, "x10" -> x10))}
         |  },
         |  "text_probe": {
         |${textProbeJson(spark, collector, Seq("x1" -> x1, "x10" -> x10))}
         |  },
         |  "queries": {
         |${(rows ++ rows30).mkString(",\n")}
         |  }
         |}""".stripMargin
    } finally collector.close()
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ")

  /** Per-stage attribution of `pipeline_curate_full` at `dir`. */
  def pipelineStagesJson(spark: SparkSession, dir: String): String =
    stagesJson(spark, "pipeline_curate_full", dir)

  /** Per-stage attribution of any registered query at `dir`. */
  def stagesJson(spark: SparkSession, q: String, dir: String): String = {
    val collector = JobGroupCollector.attach(spark)
    try {
      // warm run (codegen/artifacts), then the measured run
      collector.run(s"$q@warm")(SparkEntry.queries(q)(spark, dir)).checked
      val r = collector.run(s"$q@stages")(SparkEntry.queries(q)(spark, dir)).checked
      val st = r.stages
      // tiny corpora can report every stage at 0 ms — a 0/0 share would
      // emit NaN and make the artifact unparseable
      val wallSum = math.max(1.0, st.map(_.wallMs).sum.toDouble)
      val top = st.maxBy(_.wallMs)
      val rows = st.map { s =>
        s"""    {"stage_id": ${s.stageId}, "wall_ms": ${s.wallMs}, """ +
          s""""tasks": ${s.res.tasks}, "shuffle_read_bytes": ${s.res.shuffleReadBytes}, """ +
          s""""shuffle_write_bytes": ${s.res.shuffleWriteBytes}, """ +
          s""""input_bytes": ${s.res.inputBytes}, "spill_bytes": ${s.res.spillBytes}, """ +
          s""""name": "${esc(s.name)}"}"""
      }.mkString(",\n")
      s"""{
         |  "query": "$q",
         |  "sf_dir": "$dir",
         |  "wall_sec": ${d2(r.wallSec.get)},
         |  "stage_count": ${st.size},
         |  "top_stage_id": ${top.stageId},
         |  "top_stage_share_of_stage_walls": ${d2(top.wallMs / wallSum)},
         |  "stages": [
         |$rows
         |  ]
         |}""".stripMargin
    } finally collector.close()
  }

  // ---- cross-round scaling regression gate (r17) ----------------------

  /** A ×10 ratio counts as REGRESSED past this factor vs the prior
    * round's recorded ratio. */
  val RegressionFactor = 1.5

  /** Below this, x10 spill growth is measurement noise, not a memory
    * regression — a few shuffle blocks crossing the in-memory threshold
    * on a busy host, not a lost partial combine. */
  val SpillFloorBytes: Double = 256e6

  final case class RatioDelta(query: String, metric: String,
      prior: Double, current: Double,
      priorHi: Double = -1.0, currentHi: Double = -1.0) {
    /** A ratio past the factor alone is NOT a regression: an x1
      * improvement shrinks the denominator and inflates the ratio while
      * the x10 absolute number IMPROVED (measured r17: the count memo
      * took cosine's x1 wall 9.4→1.9 s and the ratio 4.5→14.6 while the
      * x10 wall fell 42→27 s). The x10 ABSOLUTE must have grown too
      * (>1.2× — wall noise floor) when the artifact records it.
      *
      * `x10_spill_bytes` is ABSOLUTE, not a ratio (x1 spill is normally
      * zero, so a ×-ratio is undefined exactly where the signal lives —
      * the r17 verdict's "a memory-scaling regression would pass today"
      * hole): it flags when the x10 spill grew past the factor AND past
      * the noise floor; a spill-free prior (0) flags on any material
      * spill. A missing prior (new row) never flags. */
    def degraded: Boolean = metric match {
      case "x10_spill_bytes" =>
        prior >= 0 && current > SpillFloorBytes &&
          current > prior * RegressionFactor
      case _ =>
        prior > 0 && current > prior * RegressionFactor &&
          (priorHi <= 0 || currentHi > priorHi * 1.2)
    }
  }

  /** The gate's metric set (r18 adds peak task memory and spill — the
    * r17-verdict class of regression the shuffle-only gate missed). */
  val GateMetrics: Seq[String] =
    Seq("wall_ratio_10x", "shuffle_ratio_10x", "peak_mem_ratio_10x",
      "x10_spill_bytes")

  /** ADJUDICATED absolute x10 peak-task-memory ceilings (r20, closing
    * the r19 gate suspect): for these queries the ×10 peak-mem RATIO
    * grows by design, so the gate holds the ABSOLUTE instead.
    *
    * Evidence (docs/PLANS_r20.md §1, face A/B and per-stage peak drives):
    * `dedup_clusters`' 8.55× was (a) FACE-INDEPENDENT — bit-identical
    * 304.7 MB under the broadcast AND the forced shuffle-hash
    * verify-fetch face, refuting the "broadcast relation grows ∝ N"
    * hypothesis; (b) stage-attributed to the map-side shuffle sort
    * buffers of the pair families' Generate→Exchange stages, where AQE
    * coalesces the combined edge-union job to 16 tasks (each buffer
    * holds its task's share of the exploded band/shingle rows UP TO the
    * spill threshold — data-proportional below it, spilling past it);
    * and (c) ELASTIC — with spark.memory.fraction=0.05 the query
    * completes with identical output, so the watermark is headroom
    * consumed, not a per-task requirement. `dedup_embedding_cosine`'s
    * 3.43× is the output-sized distinct/sort state growing SUBLINEARLY
    * in output (59.3 MB at 100× output). Both are the documented
    * spill-aware shape, so the honest gate contract is: ratio growth is
    * expected; the absolute must stay under ~2× the adjudicated
    * measurement, and past the ceiling the pin stops applying — the
    * flag re-enters the normal peak-mem suspect/escalation discipline
    * (a watched number, never a blind spot). */
  val AdjudicatedPeakMemCeilingBytes: Map[String, Long] = Map(
    "dedup_clusters" -> 640L * 1000 * 1000,
    "dedup_embedding_cosine" -> 128L * 1000 * 1000)

  /** Pure comparison core of the gate — unit-tested against synthetic
    * regressions. `prior` is empty for queries/metrics the baseline
    * round didn't record (new rows never flag). */
  def ratioDeltas(prior: Map[String, Map[String, Double]],
      current: Map[String, Map[String, Double]]): Seq[RatioDelta] = {
    def abs(metric: String) = metric match {
      case "wall_ratio_10x" => "x10_wall_sec"
      case "peak_mem_ratio_10x" => "x10_peak_task_memory_bytes"
      case _ => "x10_shuffle_write_bytes"
    }
    for {
      (q, cur) <- current.toSeq.sortBy(_._1)
      metric <- GateMetrics
      key = if (metric == "x10_spill_bytes") "x10_spill_total_bytes" else metric
      c <- cur.get(key).toSeq
      p = prior.getOrElse(q, Map.empty)
    } yield
      if (metric == "x10_spill_bytes")
        RatioDelta(q, metric, p.getOrElse(key, -1.0), c)
      else RatioDelta(q, metric, p.getOrElse(metric, -1.0), c,
        p.getOrElse(abs(metric), -1.0), cur.getOrElse(abs(metric), -1.0))
  }

  /** Extract `scaling.queries.<q>.<*_ratio_10x>` from a METRICS (or
    * standalone ScaleReport) JSON artifact. */
  def scalingRatiosOf(json: String): Map[String, Map[String, Double]] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val queries =
      if (root.has("scaling")) root.path("scaling").path("queries")
      else root.path("queries")
    if (!queries.isObject) return Map.empty
    val out = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    queries.properties().forEach { e =>
      val ratios = scala.collection.mutable.Map.empty[String, Double]
      e.getValue.properties().forEach { f =>
        if (f.getKey.endsWith("_ratio_10x") && f.getValue.isNumber)
          ratios(f.getKey) = f.getValue.asDouble()
        // the hi-scale ABSOLUTE numbers back the degraded() guard
        if (f.getKey.endsWith("x10") && f.getValue.isObject) {
          val hi = f.getValue
          if (hi.path("wall_sec").isNumber)
            ratios("x10_wall_sec") = hi.path("wall_sec").asDouble()
          if (hi.path("shuffle_write_bytes").isNumber)
            ratios("x10_shuffle_write_bytes") =
              hi.path("shuffle_write_bytes").asDouble()
          // resource absolutes corroborate wall flags (wallNoiseDemoted)
          if (hi.path("disk_spill_bytes").isNumber)
            ratios("x10_disk_spill_bytes") =
              hi.path("disk_spill_bytes").asDouble()
          if (hi.path("peak_task_memory_bytes").isNumber)
            ratios("x10_peak_task_memory_bytes") =
              hi.path("peak_task_memory_bytes").asDouble()
          // the spill GATE metric is the combined footprint: a lost
          // partial combine shows up in either counter depending on
          // executor memory headroom at that scale point. Sum whichever
          // counters are present (missing = 0) — requiring BOTH silently
          // dropped the gate metric for older/external artifacts that
          // recorded only one counter, a coverage gap in the exact
          // metric the r18 gate added (r18 advice)
          if (hi.path("disk_spill_bytes").isNumber ||
              hi.path("mem_spill_bytes").isNumber)
            ratios("x10_spill_total_bytes") =
              hi.path("disk_spill_bytes").asDouble(0.0) +
                hi.path("mem_spill_bytes").asDouble(0.0)
        }
      }
      out(e.getKey) = ratios.toMap
    }
    out.toMap
  }

  /** Newest prior-round METRICS artifact in `cwd` carrying a scaling
    * table (the Bench solo-baseline discovery pattern) — name + raw
    * text, so the gate can read BOTH the ratios and its own prior
    * output (the suspect list) from the same file. */
  def priorScalingBaselineText(cwd: String, currentRound: Int)
      : Option[(String, String)] = {
    val dir = new java.io.File(cwd)
    val cand = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName)
      .flatMap { n =>
        "^METRICS_r(\\d+)\\.json$".r.findFirstMatchIn(n)
          .map(m => (m.group(1).toInt, n))
      }
      .filter(_._1 < currentRound).sortBy(-_._1)
    cand.view.map { case (_, name) =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cwd, name)), "UTF-8")
      name -> text
    }.find(t => scalingRatiosOf(t._2).nonEmpty)
  }

  def priorScalingBaseline(cwd: String, currentRound: Int)
      : Option[(String, Map[String, Map[String, Double]])] =
    priorScalingBaselineText(cwd, currentRound)
      .map { case (n, t) => n -> scalingRatiosOf(t) }

  /** The prior gate's `suspect` entries ("query/metric") from a METRICS
    * artifact — the escalation input: a wall flag demoted to suspect
    * LAST round that fires again this round on a quiet host is a
    * REPRODUCED pure-compute regression (lost codegen, a slower
    * expression — moves wall but not shuffle/spill/peak-mem), and must
    * not be demotable forever. */
  def gateSuspectsOf(json: String): Set[String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val arr = root.path("scaling_regression_gate").path("suspect")
    if (!arr.isArray) Set.empty
    else {
      val out = Set.newBuilder[String]
      arr.forEach(n => if (n.isTextual) out += n.asText())
      out.result()
    }
  }

  /** A wall-only flag whose RESOURCE signals are stable is (measured)
    * host/GC noise, not an algorithmic regression — demote it to
    * `suspect`. Evidence (r17): two back-to-back UNCONTENDED sweeps
    * recorded bit-identical x10 shuffle bytes, disk spill (740 MB) and
    * peak task memory (168 MB) for `dedup_clusters` while its x10 wall
    * swung 35→46 s. A real scaling regression moves bytes or memory
    * (more pair mass, a lost partial combine, wider rows); a
    * pure-compute regression (lost codegen, a slower expression)
    * reproduces across reruns — it lands in `suspect` once, and its
    * SECOND quiet-host occurrence escalates to a hard regression (the
    * gate reads its own prior `suspect` list — see
    * [[regressionGateJson]]), never silently dropped. Shuffle flags are
    * never demoted: shuffle bytes are deterministic. */
  def wallNoiseDemoted(d: RatioDelta, prior: Map[String, Double],
      cur: Map[String, Double]): Boolean = {
    def stable(key: String, slack: Double): Boolean =
      (prior.get(key), cur.get(key)) match {
        case (Some(p), Some(c)) if p > 0 => c <= p * slack
        // both effectively zero (e.g. spill-free rows): stable as long
        // as the current number hasn't materialized from nothing
        case (Some(_), Some(c)) => c <= 1e6
        case _ => false // missing signals can't corroborate — stay hard
      }
    (d.metric == "wall_ratio_10x" &&
      stable("x10_shuffle_write_bytes", 1.1) &&
      stable("x10_disk_spill_bytes", 1.2) &&
      stable("x10_peak_task_memory_bytes", 1.2)) ||
      // r19: PEAK TASK MEMORY is not deterministic either — it depends
      // on AQE coalescing and task scheduling, not just the plan
      // (measured: dedup_clusters ×10 peaked 305 MB in-sweep vs 69.8 MB
      // on the same-day solo rerun of identical code and data). A
      // peak-mem flag whose BYTE signals are stable (shuffle within
      // 10%, disk spill within 20% — those ARE deterministic) demotes
      // to `suspect` under the same escalation discipline as wall:
      // solo-rerun to adjudicate, a quiet-host recurrence escalates,
      // a plateau carries forward. Shuffle and spill flags stay hard.
      (d.metric == "peak_mem_ratio_10x" &&
        stable("x10_shuffle_write_bytes", 1.1) &&
        stable("x10_disk_spill_bytes", 1.2))
  }

  /** True when the scaling artifact records a contended sweep. */
  def contendedOf(scalingJson: String): Boolean = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(scalingJson)
    val load =
      if (root.has("scaling")) root.path("scaling").path("load")
      else root.path("load")
    load.path("contended").asBoolean(false)
  }

  /** The gate's JSON section + loud stderr flagging. Wall-ratio
    * degradations measured on a CONTENDED host demote to "suspect"
    * (walls there reflect foreign load, not the build — the bench-solo
    * discipline); shuffle/peak-mem/spill degradations are deterministic
    * and always hard. A demotable wall flag that was ALREADY suspect in
    * the prior round's gate ESCALATES to hard when this sweep ran quiet
    * (r17-advice fix: the second uncontended occurrence IS the rerun
    * that corroborates a reproducible pure-compute regression — without
    * escalation a lost-codegen wall regression demotes forever). With
    * SPARK_GRAFT_SCALE_GATE=strict a hard regression THROWS instead of
    * flagging, for use as a hard CI gate. */
  def regressionGateJson(cwd: String, currentRound: Int,
      currentScalingJson: String): String = {
    val current = scalingRatiosOf(currentScalingJson)
    val contended = contendedOf(currentScalingJson)
    priorScalingBaselineText(cwd, currentRound) match {
      case None =>
        """{"baseline": null, "deltas": {}, "regressions": [], "suspect": [], "escalated": [], "recovered": [], "pinned": [], "ok": true}"""
      case Some((name, priorText)) =>
        val prior = scalingRatiosOf(priorText)
        val priorSuspects = gateSuspectsOf(priorText)
        val deltas = ratioDeltas(prior, current)
        // r20: a peak-mem flag on a query with an ADJUDICATED ceiling
        // resolves as `pinned` while the current ABSOLUTE stays under
        // it — ratio growth there is the measured by-design shape
        // ([[AdjudicatedPeakMemCeilingBytes]]); a missing absolute
        // cannot verify the ceiling and is never pinned
        def pinnedOk(d: RatioDelta): Boolean =
          d.metric == "peak_mem_ratio_10x" &&
            AdjudicatedPeakMemCeilingBytes.get(d.query).exists { c =>
              current.getOrElse(d.query, Map.empty)
                .get("x10_peak_task_memory_bytes").exists(_ <= c.toDouble)
            }
        val degradedAll = deltas.filter(_.degraded)
        val (pinnedDeg, degraded) = degradedAll.partition(pinnedOk)
        val (demotable, hardRaw) = degraded.partition(d =>
          (contended && d.metric == "wall_ratio_10x") ||
            wallNoiseDemoted(d, prior.getOrElse(d.query, Map.empty),
              current.getOrElse(d.query, Map.empty)))
        // a quiet-host recurrence of a prior suspect is corroborated —
        // escalate; on a contended host nothing can be corroborated,
        // the suspect carries forward
        val (escalated0, suspect0) =
          if (contended) (Seq.empty[RatioDelta], demotable)
          else demotable.partition(d =>
            priorSuspects.contains(s"${d.query}/${d.metric}"))
        // PLATEAU carry-forward (r18 advice, medium): the baseline is
        // the NEWEST prior artifact — which already recorded the
        // regressed ratio. A reproducible regression that plateaus
        // (3.5 -> 3.5) is never `degraded` vs that ratcheted baseline,
        // so without this the prior suspect would silently vanish,
        // contradicting the "never silently dropped / not demotable
        // forever" contract. A prior suspect whose current ratio did
        // NOT recover (current >= prior/1.2 — the wall noise band) is
        // still the same open question: it escalates on a quiet host
        // (the corroborating second occurrence, exactly the re-flag
        // rule) and carries as suspect on a contended one. A suspect
        // whose metric vanished from the sweep also carries (visible,
        // current = -1). Recovered suspects land in `recovered`.
        val flaggedNow = degradedAll.map(d => s"${d.query}/${d.metric}").toSet
        val carriedRaw = priorSuspects.toSeq.sorted
          .filterNot(flaggedNow.contains)
          .flatMap { key =>
            val slash = key.lastIndexOf('/')
            if (slash <= 0) None
            else {
              val (q, metric) = (key.take(slash), key.drop(slash + 1))
              val p = prior.getOrElse(q, Map.empty)
                .getOrElse(metric, -1.0)
              val c = current.getOrElse(q, Map.empty)
                .getOrElse(metric, -1.0)
              Some(RatioDelta(q, metric, p, c))
            }
          }
        // an adjudicated carried suspect resolves as pinned, never
        // escalates — the ceiling is now the watched number
        val (pinnedCarried, carriedAll) = carriedRaw.partition(pinnedOk)
        val pinned = pinnedDeg ++ pinnedCarried
        val (recovered, carried) = carriedAll.partition(d =>
          d.prior > 0 && d.current >= 0 && d.current < d.prior / 1.2)
        // r20 (r19 advice, low): a carried suspect whose PRIOR ratio is
        // missing from the baseline artifact (prior <= 0 — e.g. a
        // suspect carried through a round whose sweep dropped the
        // metric) can never satisfy the recovery test above, so without
        // this split a perfectly healthy current ratio would escalate
        // to a hard regression on a quiet host. No prior means nothing
        // was corroborated: it re-baselines as a FRESH suspect (stays
        // visible, adjudicable next round) instead of escalating.
        val (escalated, suspect) =
          if (contended) (escalated0, suspect0 ++ carried)
          else (escalated0 ++ carried.filter(d => d.prior > 0 && d.current >= 0),
            suspect0 ++ carried.filter(_.current < 0) ++
              carried.filter(d => d.prior <= 0 && d.current >= 0))
        val regressed = hardRaw ++ escalated
        regressed.foreach(d => System.err.println(
          s"SCALING REGRESSION: ${d.query} ${d.metric} " +
            s"${d2(d.prior)} -> ${d2(d.current)} (> ${RegressionFactor}x)" +
            (if (carried.contains(d)) " [escalated: suspect last round, plateaued quiet]"
             else if (escalated.contains(d)) " [escalated: suspect last round, reproduced quiet]"
             else "")))
        suspect.foreach(d => System.err.println(
          s"SCALING SUSPECT (byte signals stable or contended " +
            s"host): ${d.query} ${d.metric} " +
            s"${d2(d.prior)} -> ${d2(d.current)} — rerun solo"))
        pinned.foreach(d => System.err.println(
          s"SCALING PINNED (adjudicated by-design growth, absolute " +
            s"under ceiling): ${d.query} ${d.metric} " +
            s"${d2(d.prior)} -> ${d2(d.current)}"))
        if (regressed.nonEmpty &&
          sys.env.get("SPARK_GRAFT_SCALE_GATE").contains("strict"))
          throw new IllegalStateException(
            s"scaling regression gate: ${regressed.map(_.query).distinct.mkString(", ")}")
        val body = deltas.groupBy(_.query).toSeq.sortBy(_._1).map {
          case (q, ds) =>
            val ms = ds.map(d =>
              s""""${d.metric}": {"prior": ${d2(d.prior)}, """ +
                s""""current": ${d2(d.current)}, "degraded": ${d.degraded}}""")
            s"""    "$q": {${ms.mkString(", ")}}"""
        }.mkString(",\n")
        def names(ds: Seq[RatioDelta]) =
          ds.map(d => s""""${d.query}/${d.metric}"""").mkString(", ")
        s"""{
           |  "baseline": "$name",
           |  "factor": $RegressionFactor,
           |  "contended": $contended,
           |  "deltas": {
           |$body
           |  },
           |  "regressions": [${names(regressed)}],
           |  "suspect": [${names(suspect)}],
           |  "escalated": [${names(escalated)}],
           |  "recovered": [${names(recovered)}],
           |  "pinned": [${names(pinned)}],
           |  "ok": ${regressed.isEmpty}
           |}""".stripMargin
    }
  }

  def main(args: Array[String]): Unit = {
    // profile mode: `runMain graft.ScaleReport --stages <query> <dir>`
    if (args.headOption.contains("--stages")) {
      val spark = Tables.configure(SparkSession.builder()
        .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
        .config("spark.sql.shuffle.partitions", 32)
        .config("spark.ui.enabled", "false")).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      println(stagesJson(spark, args(1), args(2)))
      spark.stop()
      return
    }
    val round = args.headOption.getOrElse("16")
    val outPath = args.lift(1).getOrElse(s"METRICS_SCALE_r$round.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadAtStart = graft.metrics.HostLoad.state()
    val scaling = scalingJson(spark, sfDir, Some(loadAtStart))
    val json =
      s"""{
         |  "round": $round,
         |  "sf_dir": "$sfDir",
         |  "scaling": $scaling,
         |  "scaling_regression_gate": ${
        regressionGateJson(".", round.toIntOption.getOrElse(0), scaling)},
         |  "pipeline_stages": ${pipelineStagesJson(spark, sfDir)}
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
