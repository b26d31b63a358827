package graft.queries

import graft.{SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * ANN/dedup RECALL harness (r2 verdict #5): the LSH/IVF queries trade
 * recall for scale-safety, and `dedup_embedding_cosine`'s oracle checks
 * its banded-candidate contract, not the exhaustive threshold contract.
 * This suite MEASURES both trades against brute force (feasible at this
 * SF: 500 vectors), so recall is an asserted number, not a doc claim:
 *
 *  - recall@10 of each approximate top-k query vs `ann_cosine_topk`
 *    (exhaustive scoring — exact by construction);
 *  - index recall of the SRP bucket structure (`ann_lsh_pairs`): how
 *    many true top-10 neighbors share the query's 16-plane bucket;
 *  - pair recall and false-positive count of `dedup_embedding_cosine`
 *    vs ALL pairs with exact cosine >= 0.45 (40 bands x 6 fixed-point
 *    planes: collision probability 1-(1-p^6)^40, p = 1-acos(s)/pi,
 *    predicts ~0.955 at the threshold itself, higher for more-similar
 *    pairs).
 *
 * Bounds are set just under measured values on the driver datasets so a
 * regression in banding/probing/assignment arithmetic trips the suite,
 * while staying above what a broken index could plausibly score.
 */
class RecallSuite extends SparkSuite {

  private val TopK = 10

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** query_id -> retrieved neighbor set. */
  private def topkSets(name: String): Map[Long, Set[Long]] =
    run(name).select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private lazy val exactTopk: Map[Long, Set[Long]] = topkSets("ann_cosine_topk")

  /** Mean per-query |approx ∩ exact| / k. */
  private def recallAt10(approx: Map[Long, Set[Long]]): Double = {
    val per = exactTopk.toSeq.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).count(ex).toDouble / ex.size
    }
    per.sum / per.size
  }

  /** All (lo, hi) pairs with exact cosine >= threshold — brute force,
    * test-only (this shape is exactly what the production queries must
    * NOT do at scale). */
  private def exactThresholdPairs(threshold: Double): Set[(Long, Long)] = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("e1"), col("e2")))
      .filter(col("sim") >= threshold)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("ann_ivf_topk (nprobe=1, seed centroids) recall@10 vs brute force") {
    // measured 0.880 on the driver dataset (deterministic index+data)
    val r = recallAt10(topkSets("ann_ivf_topk"))
    info(f"ann_ivf_topk recall@10 = $r%.3f")
    assert(r >= 0.8, f"recall@10 $r%.3f below floor")
  }

  test("ann_ivf_kmeans_topk (trained, nprobe=2) recall@10 vs brute force") {
    // measured 0.920 — at/above the r2 verdict's predicted >= 0.9 bound
    // for a trained quantizer probing 2 of 8 cells
    val r = recallAt10(topkSets("ann_ivf_kmeans_topk"))
    info(f"ann_ivf_kmeans_topk recall@10 = $r%.3f")
    assert(r >= 0.9, f"recall@10 $r%.3f below floor")
  }

  test("int8 rerank buys the quantization recall back: rerank >= plain int8, near exact") {
    val int8 = recallAt10(topkSets("ann_int8_topk"))
    val rerank = recallAt10(topkSets("ann_int8_rerank_topk"))
    info(f"int8 $int8%.3f vs int8+exact-rerank $rerank%.3f")
    assert(rerank >= int8,
      f"re-ranking with exact float scores must not lose recall: $rerank%.3f < $int8%.3f")
    // a 3k shortlist re-scored exactly recovers (nearly) all of the
    // quantization loss — measured 1.000 at sf0.1, 3x-shortlist theory
    assert(rerank >= 0.95, f"rerank recall@10 $rerank%.3f below floor")
  }

  test("PQ rerank buys the product-quantization recall back, like int8") {
    val pq = recallAt10(topkSets("ann_pq_topk"))
    val rerank = recallAt10(topkSets("ann_pq_rerank_topk"))
    info(f"pq $pq%.3f vs pq+exact-rerank $rerank%.3f")
    assert(rerank >= pq,
      f"re-ranking with exact float scores must not lose recall: $rerank%.3f < $pq%.3f")
    // a 40-bit PQ code is ~13× fewer bits than int8's 512 — single-stage
    // ordering is accordingly noisy (floor is a far-above-random sanity
    // bound: random recall@10 here is ~0.02); the production claim is
    // the 10×k-shortlist rerank number
    assert(pq >= 0.2, f"plain PQ recall@10 $pq%.3f below floor")
    assert(rerank >= 0.9, f"rerank recall@10 $rerank%.3f below floor")
  }

  test("IVF-PQ composition: cell pruning + codes + rerank holds recall") {
    val r = recallAt10(topkSets("ann_ivfpq_topk"))
    info(f"ann_ivfpq_topk recall@10 = $r%.3f")
    // bounded by nprobe=2-of-8 cell pruning (the ann_ivf_kmeans ceiling),
    // not by the code scan — the rerank recovers the PQ noise
    assert(r >= 0.8, f"recall@10 $r%.3f below floor")
  }

  test("residual coding: IVF-PQ over residuals holds the composition's recall") {
    val plain = recallAt10(topkSets("ann_ivfpq_topk"))
    val residual = recallAt10(topkSets("ann_ivfpq_residual_topk"))
    info(f"ivfpq $plain%.3f vs residual-coded $residual%.3f")
    // residuals spend the same bit budget on what the coarse quantizer
    // did NOT explain — measured 0.94 → 0.98 at sf0.1 (the float-IVF
    // ceiling); same floor as the raw-vector composition, since both are
    // bounded by nprobe=2-of-8 cell pruning, not the codes
    assert(residual >= 0.8, f"recall@10 $residual%.3f below floor")
  }

  test("training + nprobe=2 beats the untrained nprobe=1 index") {
    val trained = recallAt10(topkSets("ann_ivf_kmeans_topk"))
    val seeded = recallAt10(topkSets("ann_ivf_topk"))
    info(f"trained nprobe=2 $trained%.3f vs seeded nprobe=1 $seeded%.3f")
    assert(trained >= seeded)
  }

  test("SRP bucket index recall: true top-10 neighbors sharing the query's bucket") {
    // ann_lsh_pairs admits exact-cosine pairs only within one 16-plane
    // bucket; its retrieval ceiling for a query is the set of neighbors
    // in the query's bucket. Measure that ceiling against exact top-10.
    val pairs = run("ann_lsh_pairs")
      .select("vec_id_1", "vec_id_2").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val r = recallAt10(pairs)
    info(f"ann_lsh_pairs bucket recall@10 = $r%.3f")
    // a single FULL-signature bucket is a precision structure: per-plane
    // agreement p = 1-acos(s)/pi gives p^16 ~ 6e-4 at this corpus's
    // cosine range, so near-zero recall here is the PREDICTED behavior
    // (measured 0.000), and it is exactly why the banded (40x6) variant
    // below exists — banding must strictly beat the full bucket.
    assert(r <= 0.2, f"full-bucket recall $r%.3f implausibly high — signature broken?")
    val banded = recallAt10Banded()
    info(f"banded (40x6) index recall@10 = $banded%.3f")
    assert(banded > r, "banding failed to recover recall over the full bucket")
  }

  /** Retrieval ceiling of the 40x6 banded index used by
    * dedup_embedding_cosine, measured on the same top-10 task. */
  private def recallAt10Banded(): Double = {
    val pairs = run("dedup_embedding_cosine")
      .select("vec_id_keeper", "vec_id_dropped").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // banded admits only threshold-passing pairs; measure against the
    // exact top-10 neighbors that ALSO pass the 0.45 threshold, i.e.
    // the part of the top-10 task this index is asked to solve
    val sims = exactThresholdPairs(0.45)
      .flatMap(p => Seq(p, p.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val per = exactTopk.toSeq.flatMap { case (q, ex) =>
      val target = ex & sims.getOrElse(q, Set.empty)
      if (target.isEmpty) None
      else Some(pairs.getOrElse(q, Set.empty).count(target).toDouble / target.size)
    }
    if (per.isEmpty) 1.0 else per.sum / per.size
  }

  test("dedup_embedding_cosine: zero false positives, measured pair recall vs exact") {
    val banded = run("dedup_embedding_cosine")
      .select("vec_id_keeper", "vec_id_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactThresholdPairs(0.45)
    val falsePos = banded -- exact
    assert(falsePos.isEmpty, s"banded pairs not over threshold: $falsePos")
    // 40×6 fixed-point banding (r8; the sf0.1 corpus sits on the r19
    // adaptive ladder's FLOOR, so this pin is unchanged by the
    // re-parameterization): analytic 1-(1-p^6)^40 ≈ 0.955 at the
    // threshold itself — the r7 24×6 design measured 0.857 here and
    // 0.847 at sf0.1 (METRICS_r07), the r6 4×4 design 0.62. Pinned at
    // the measured value (0.97 at sf0.1, deterministic; 0.9716/0.9708
    // at the ×10/×30 adaptive rungs vs exhaustive exact pairs,
    // docs/PLANS_r19.md) minus a thin
    // guard — the r19 verdict's "recall must survive the
    // re-parameterization" contract, hardened from the old 0.9 floor.
    val recall = if (exact.isEmpty) 1.0 else (banded & exact).size.toDouble / exact.size
    info(f"dedup_embedding_cosine pair recall = $recall%.3f (${banded.size}/${exact.size})")
    assert(recall >= 0.96, f"recall $recall%.4f below the measured-value pin")
  }

  test("ann_range_search is consistent with the exact top-k ranking") {
    // Exact-over-broadcast-queries, so two invariants hold EXACTLY (not
    // as recall): every returned sim clears τ, and any top-k result at
    // sim ≥ τ + a rounding guard is in the range set (the guard keeps
    // the presentation-rounded top-k sims from straddling the raw-τ cut).
    val tau = 0.25
    val range = run("ann_range_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(range.nonEmpty)
    assert(range.forall { case (_, _, s) => s >= tau - 5e-5 },
      "range search returned a sub-threshold neighbor")
    val rangeSets = range.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val topkAbove = run("ann_cosine_topk")
      .filter(col("sim") >= tau + 1e-4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(topkAbove.nonEmpty)
    topkAbove.foreach { case (q, n) =>
      assert(rangeSets.getOrElse(q, Set.empty).contains(n),
        s"top-k neighbor $n of query $q (sim ≥ τ) missing from range result")
    }
  }

  test("ann_mips_topk is exact: matches brute-force inner-product ranking") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val expected = vecs.keys.filter(_ < 5).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, dot(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(TopK).zipWithIndex
        .map { case ((id, _), i) => (q, i + 1, id) }
    }.toSet
    val got = run("ann_mips_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected,
      s"MIPS ranking diverged from brute force: ${got.diff(expected)} / ${expected.diff(got)}")
  }

  test("decontaminate_embedding reports exactly the brute-force pairs at tau") {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val brute = e.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), col("embedding").as("e1"))
      .crossJoin(e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("bench_vec_id"), col("embedding").as("e2")))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("e1"), col("e2")))
      .filter(col("sim") >= 0.30)
      .select("vec_id", "bench_vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run("decontaminate_embedding").select("vec_id", "bench_vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "fixture should surface contaminated pairs at τ=0.30")
    assert(got == brute,
      s"semantic-decontamination report diverged: ${got.diff(brute)} / ${brute.diff(got)}")
  }
}
