package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Per-round quality/throughput artifact (r3 item #8): one tracked JSON
 * with the numbers that would otherwise live only in test logs, so
 * recall/throughput/salting regressions are diffable across rounds:
 *
 *  - ANN/dedup recalls vs brute force (the RecallSuite headline numbers);
 *  - `skew_guard` observation totals per guarded pairs query (salted
 *    pairs + hot bands actually seen at this SF).
 *
 * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
 *          runMain graft.MetricsReport <round> [outPath]
 */
object MetricsReport {

  private val GuardedQueries = Seq("ann_lsh_pairs", "dedup_simhash_pairs",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_embedding_cosine")

  /** query_id -> retrieved neighbor set for a top-k query. */
  private def topkSets(spark: SparkSession, sfDir: String,
      name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def recallAt10(exact: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]): Double = {
    // a silent NaN in the artifact would defeat its cross-round diffing
    require(exact.nonEmpty && exact.values.forall(_.nonEmpty),
      "exact top-k baseline is empty — wrong SF dir?")
    val per = exact.toSeq.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).count(ex).toDouble / ex.size
    }
    per.sum / per.size
  }

  /** Locale-invariant decimal formatting: the f-interpolator honors the
    * default locale, and a comma-decimal locale would emit invalid JSON. */
  private def d4(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))
  private def d2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
  private def d0(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.0f", Double.box(x))

  /** Brute-force threshold pairs — metrics-only, never a production shape. */
  private def exactThresholdPairs(spark: SparkSession, sfDir: String,
      threshold: Double): Set[(Long, Long)] = {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("e1"), col("e2")))
      .filter(col("sim") >= threshold)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  def main(args: Array[String]): Unit = {
    val round = args.headOption.getOrElse("0").toIntOption.getOrElse(0)
    val outPath = args.lift(1).getOrElse(s"METRICS_r$round.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // invocation-start load snapshot: the scaling sweep runs ~15 min in,
    // when the 1-min loadavg would read this JVM's own probes as
    // contention — run conditions are a property of the invocation
    val loadAtStart = graft.metrics.HostLoad.state()
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. skew-guard observations from the PRODUCTION plans of the five
    // guarded queries (observedMetrics carry the salted-branch counters)
    val skew = GuardedQueries.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val rows = df.queryExecution.observedMetrics.collect {
        case (k, r) if k.startsWith("skew_guard") => r
      }
      val salted = rows.map(_.getAs[Long]("salted_pairs")).sum
      val hot = rows.map(_.getAs[Long]("hot_bands")).sum
      name -> ((salted, hot))
    }

    // 2. recalls vs brute force (exact top-k + exact threshold pairs)
    val exactTopk = topkSets(spark, sfDir, "ann_cosine_topk")
    val ivf = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_ivf_topk"))
    val kmeans = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_ivf_kmeans_topk"))
    val int8 = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_int8_topk"))
    val int8rr = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_int8_rerank_topk"))
    val pq = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_pq_topk"))
    val pqrr = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_pq_rerank_topk"))
    val ivfpq = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_ivfpq_topk"))
    val ivfpqr = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_ivfpq_residual_topk"))
    val hamming = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_hamming_topk"))
    val hammingRr = recallAt10(exactTopk, topkSets(spark, sfDir, "ann_hamming_rerank_topk"))
    val banded = SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir)
      .select("vec_id_keeper", "vec_id_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exactThresholdPairs(spark, sfDir, 0.45)
    val pairRecall =
      if (exactPairs.isEmpty) 1.0
      else (banded & exactPairs).size.toDouble / exactPairs.size
    val falsePos = (banded -- exactPairs).size

    // 3. dedup cluster structure at this SF + the CC loop verdict
    // (observed metric — a non-converged clustering is visible here,
    // not just in driver logs)
    // Counts ride the SAME execution as the CC-verdict observe node via a
    // second observe + one row-free action: nothing corpus-sized crosses
    // to the driver (a collect() here would OOM at a bigger SF dir), and
    // count()/select() would re-plan and lose the child's observedMetrics.
    // ONE collect()-style action on this exact DataFrame: observedMetrics
    // live on the acted-on QueryExecution (count()/select()/foreach()
    // re-plan — foreach's RDD path even executes a SEPARATE QueryExecution
    // whose accumulators this handle never sees). Driver-sized by the
    // same argument as the rest of this main: a quality-measurement
    // harness that already brute-forces recall with a collected
    // cross-join — it runs at measurement SF, never corpus scale.
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sfDir)
    val clusterRows = clusters.collect()
    val nDocs = clusterRows.length.toLong
    val nClusters = clusterRows.map(_.getAs[Long]("cluster_rep")).distinct.length
    val om = clusters.queryExecution.observedMetrics
    // a MISSING verdict metric must read as NOT converged — the healthy
    // default would silently mask the exact failure this metric exists
    // to surface (e.g. a refactor dropping the observe node)
    val ccVerdict = om.get("dedup_clusters_cc")
    val ccConverged = ccVerdict.exists(_.getAs[Long]("converged") == 1L)
    val ccIterations = ccVerdict.map(_.getAs[Long]("iterations")).getOrElse(-1L)

    // 3b. the DISTRIBUTED CC loop on the real pair graph: at measurement
    // SF the union-find gate absorbs dedup_clusters (cc_iterations 0
    // above), so the iterative path — the one that runs at 100 TB —
    // would otherwise only ever see suite synthetics. Force it
    // (localEdgeThreshold=0) on the same three-family edge union and
    // check it agrees with the gate's exact union-find label-for-label.
    val ccEdges = graft.operators.Dedup.clusterEdges(spark, sfDir)
      .persist()
    ccEdges.count()
    val docsV = Tables.documents(spark, sfDir)
    val ccDist = graft.operators.ConnectedComponents.run(
      docsV, "doc_id", ccEdges, "a", "b", localEdgeThreshold = 0)
    val ccLocal = graft.operators.ConnectedComponents.run(
      docsV, "doc_id", ccEdges, "a", "b")
    val ccDisagree = ccDist.labels
      .withColumnRenamed("label", "dl")
      .join(ccLocal.labels.withColumnRenamed("label", "ll"), "id")
      .filter(col("dl") =!= col("ll")).count()
    // same cross-check for the star-contraction path (r14): both
    // distributed algorithms must agree with the exact union-find
    // label-for-label on the real pair graph
    val ccStar = graft.operators.ConnectedComponents.run(
      docsV, "doc_id", ccEdges, "a", "b", localEdgeThreshold = 0,
      algorithm = "star")
    val ccStarDisagree = ccStar.labels
      .withColumnRenamed("label", "sl")
      .join(ccLocal.labels.withColumnRenamed("label", "ll"), "id")
      .filter(col("sl") =!= col("ll")).count()
    ccEdges.unpersist(blocking = false)

    // 3c. per-query memory/shuffle/spill footprint (r9 ask #5): the ten
    // most expensive queries re-run under a labeled job group
    // (JobGroupCollector.run — full execution via the noop sink, nothing
    // collected). peak_task_memory_bytes is the executor-sizing number;
    // spills > 0 at measurement SF would flag a query that cannot claim
    // the 100× story.
    val resourceQueries = Seq("dedup_clusters", "pipeline_curate_full",
      "match_entities", "dedup_embedding_cosine", "dedup_containment",
      "dedup_minhash_pairs", "ann_ivfpq_residual_topk", "dedup_spans_cut",
      "mix_quality_buckets", "search_bm25")
    // fail-loud (checked): an unattributed run must never write an
    // all-zero row indistinguishable from a genuinely free query into
    // the tracked artifact. Using releases the listener EVEN when a
    // throw aborts the loop, so it stops recording before the skew
    // joins and streaming benches below.
    val resources = scala.util.Using.resource(
        graft.metrics.JobGroupCollector.attach(spark)) { collector =>
      resourceQueries.map(q =>
        q -> collector.run(q)(SparkEntry.queries(q)(spark, sfDir)).checked.totals)
    }

    // 3d. SkewGuard fired by REAL data (r9 ask #7): at measurement SF no
    // natural band crosses the cap, so the guard's salted path had only
    // ever run on suite synthetics. Inject the real-world cause —
    // boilerplate duplication, one REAL document's text replicated past
    // the cap under fresh ids — and push it through the PRODUCTION
    // simhash-pairs path (default cap/maxSalt). Multiset parity vs the
    // naive unguarded join is a HARD failure, not a reported number.
    val hotCopies = 1300 // > SkewGuard.DefaultCap ⇒ all 4 simhash bands go hot
    val docsAll = Tables.documents(spark, sfDir).select("doc_id", "text")
    val templateText = docsAll.orderBy("doc_id").limit(1)
      .collect().head.getString(1)
    val maxDocId = docsAll.agg(max("doc_id")).head().getLong(0)
    val hotDocs = spark.range(hotCopies.toLong)
      .select((col("id") + maxDocId + 1).as("doc_id"),
        lit(templateText).as("text"))
    val skewedDocs = docsAll.unionByName(hotDocs)
    val sgObs = new org.apache.spark.sql.Observation("skew_real")
    val guardedPairs = graft.operators.Dedup
      .simhashPairs(skewedDocs, Some(sgObs))
      .persist()
    val guardedN = guardedPairs.count()
    val saltedReal = sgObs.get("salted_pairs").asInstanceOf[Long]
    val hotBandsReal = sgObs.get("hot_bands").asInstanceOf[Long]
    require(saltedReal > 0,
      s"hot-band injection did not reach the salted path (copies=$hotCopies)")
    val naivePairs = {
      val banded = graft.operators.Dedup.simhashBanded(skewedDocs)
      val a = banded.select(col("band"), col("doc_id").as("doc_id_1"),
        col("simhash").as("simhash_1"))
      val b = banded.select(col("band"), col("doc_id").as("doc_id_2"),
        col("simhash").as("simhash_2"))
      graft.operators.Dedup.simhashVerified(
        a.join(b, "band").filter(col("doc_id_1") < col("doc_id_2")))
    }.persist()
    val naiveN = naivePairs.count()
    val parityMissing = naivePairs.exceptAll(guardedPairs).count()
    val parityExtra = guardedPairs.exceptAll(naivePairs).count()
    require(parityMissing == 0 && parityExtra == 0 && guardedN == naiveN,
      s"skew-guard parity broke on real data: guarded=$guardedN " +
        s"naive=$naiveN missing=$parityMissing extra=$parityExtra")
    guardedPairs.unpersist(blocking = false)
    naivePairs.unpersist(blocking = false)

    // 4. streaming catalog-dedup ingest: plain vs Bloom-prefiltered
    // face over the same staged stream + the measured bypass fraction
    val ingest = StreamBench.runDedupIngest(spark, sfDir)
    val curate = StreamBench.runCurateIngest(spark, sfDir)
    // 4b. the native connector pair: graftlog MicroBatchStream source →
    // V2 streaming sink (exactly-once asserted inside the drive)
    val glog = StreamBench.runGraftLog(spark, sfDir)

    // 5. (r16) the empirical scaling table — the heavy family at the
    // real corpus, a fitted 1× synthetic twin, and the same generator's
    // 10× corpus, plus per-stage attribution of pipeline_curate_full.
    // SPARK_GRAFT_SKIP_SCALE=1 skips the ~15-minute sweep for quick
    // artifact iterations; the tracked per-round artifact includes it.
    val skipScale = sys.env.get("SPARK_GRAFT_SKIP_SCALE").contains("1")
    val scaleJson =
      if (skipScale) "null"
      else ScaleReport.scalingJson(spark, sfDir, Some(loadAtStart))
    val stagesJson =
      if (skipScale) "null" else ScaleReport.pipelineStagesJson(spark, sfDir)
    // 5b. (r17) the cross-round regression gate: a heavy-family wall or
    // shuffle ×10 ratio degrading >1.5× vs the newest prior METRICS_r*
    // artifact is flagged loudly here (and thrown under
    // SPARK_GRAFT_SCALE_GATE=strict) — superlinear regressions are
    // caught by machinery, not by a judge reading JSON
    val gateJson =
      if (skipScale) "null"
      else ScaleReport.regressionGateJson(".", round, scaleJson)

    val sg = skew.map { case (n, (s, h)) =>
      s"""    "$n": {"salted_pairs": $s, "hot_bands": $h}"""
    }.mkString(",\n")
    val res = resources.map { case (q, r) =>
      s"""    "$q": {"shuffle_write_bytes": ${r.shuffleWriteBytes}, """ +
        s""""shuffle_read_bytes": ${r.shuffleReadBytes}, """ +
        s""""mem_spill_bytes": ${r.memSpillBytes}, """ +
        s""""disk_spill_bytes": ${r.diskSpillBytes}, """ +
        s""""peak_task_memory_bytes": ${r.peakTaskMemory}, """ +
        s""""input_bytes": ${r.inputBytes}, "tasks": ${r.tasks}}"""
    }.mkString(",\n")
    val json =
      s"""{
         |  "round": $round,
         |  "sf_dir": "$sfDir",
         |  "recall": {
         |    "ann_ivf_topk_at10": ${d4(ivf)},
         |    "ann_ivf_kmeans_topk_at10": ${d4(kmeans)},
         |    "ann_int8_topk_at10": ${d4(int8)},
         |    "ann_int8_rerank_topk_at10": ${d4(int8rr)},
         |    "ann_pq_topk_at10": ${d4(pq)},
         |    "ann_pq_rerank_topk_at10": ${d4(pqrr)},
         |    "ann_ivfpq_topk_at10": ${d4(ivfpq)},
         |    "ann_ivfpq_residual_topk_at10": ${d4(ivfpqr)},
         |    "ann_hamming_topk_at10": ${d4(hamming)},
         |    "ann_hamming_rerank_topk_at10": ${d4(hammingRr)},
         |    "dedup_embedding_cosine_pair_recall": ${d4(pairRecall)},
         |    "dedup_embedding_cosine_false_positives": $falsePos
         |  },
         |  "dedup_clusters": {"documents": $nDocs, "clusters": $nClusters, "converged": $ccConverged, "cc_iterations": $ccIterations},
         |  "cc_distributed": {"iterations": ${ccDist.iterations}, "converged": ${ccDist.converged}, "disagreements_vs_unionfind": $ccDisagree},
         |  "cc_star": {"iterations": ${ccStar.iterations}, "converged": ${ccStar.converged}, "disagreements_vs_unionfind": $ccStarDisagree},
         |  "skew_guard": {
         |$sg
         |  },
         |  "resources": {
         |$res
         |  },
         |  "skew_guard_real_data": {
         |    "injected_copies": $hotCopies,
         |    "salted_pairs": $saltedReal,
         |    "hot_bands": $hotBandsReal,
         |    "guarded_pairs": $guardedN,
         |    "naive_pairs": $naiveN,
         |    "multiset_parity": true
         |  },
         |  "stream_dedup": {
         |    "plain_rows_per_sec": ${d0(ingest.plainRowsPerSec)},
         |    "bloom_rows_per_sec": ${d0(ingest.bloomRowsPerSec)},
         |    "rows": ${ingest.rows},
         |    "kept": ${ingest.kept},
         |    "bloom_bypass_fraction": ${d4(ingest.bypassFraction)}
         |  },
         |  "stream_curate": {
         |    "rows_per_sec": ${d0(curate.rowsPerSec)},
         |    "rows": ${curate.rows},
         |    "admitted": ${curate.admitted}
         |  },
         |  "stream_graftlog": {
         |    "rows_per_sec": ${d0(glog.rowsPerSec)},
         |    "rows": ${glog.rows},
         |    "batches": ${glog.batches},
         |    "seconds": ${d2(glog.seconds)}
         |  },
         |  "scaling": $scaleJson,
         |  "scaling_regression_gate": $gateJson,
         |  "pipeline_stages": $stagesJson
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
