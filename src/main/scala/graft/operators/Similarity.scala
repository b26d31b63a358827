package graft.operators

import graft.{FixtureStore, Tables}
import graft.queries.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor operators over the `embeddings` table
 * (64-dim float vectors).
 *
 *  - Brute-force cosine top-k: the correctness baseline. Queries broadcast
 *    (tiny), corpus streams — no shuffle of the corpus; top-k per query is
 *    a ranking window over (queries × corpus), which at 100 TB becomes a
 *    per-partition partial top-k + merge (TakeOrdered shape).
 *  - SRP-LSH (sign-random-projection): the scale path. Signatures are
 *    per-row arithmetic (no shuffle); the candidate join shuffles only
 *    (vec_id, 16-bit signature). Planes are deterministic ±1 vectors
 *    derived from md5, so the oracle reproduces them bit-for-bit.
 *
 * FP determinism: dot products are EXPLICIT left-associated 64-term sums
 * over doubles in both engines (no list_sum / HOF fold whose accumulation
 * order might differ), so similarity values hash-match exactly.
 */
object Similarity {

  private val Dim = 64
  private[operators] val NumQueries = 5
  private[operators] val TopK = 10

  /** Left-assoc Σ a[i]*b[i] over doubles. HOF form, NOT an unrolled
    * 64-term expression: aggregate(zip_with(...)) folds sequentially from
    * 0.0, which is bit-identical to the oracle's explicit left-associated
    * sum (0.0 + x1 == x1 exactly), while keeping the expression tree ~10
    * nodes — the unrolled form made janino codegen compilation, not the
    * data, the dominant bench cost. */
  private[operators] def dotCol(a: String, b: String): Column =
    aggregate(
      zip_with(col(a), col(b), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  /** Per-query top-k via the bounded [[graft.functions.TopKAggregator]]
    * (r2 verdict #2): a partial (map-side) aggregation shuffles AT MOST k
    * rows per (map partition, query) — vs the old `row_number` window,
    * which funneled the whole corpus into one reducer task per query.
    * Ordering (score DESC, id ASC) matches the oracle's window exactly,
    * so the row_number() SQL formulation stays the oracle. */
  private[operators] def topKPerQuery(
      s: SparkSession, scored: DataFrame, k: Int = TopK,
      presentationSort: Boolean = true): DataFrame = {
    import s.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val topk = new TopKAggregator(k).toColumn.name("topk")
    val flat = scored.select(col("query_id"), col("neighbor_id"), col("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, sim) => Scored(id, sim) }
      .agg(topk)
      .flatMap { case (qid, items) =>
        items.zipWithIndex.map { case (r, i) => (qid, i + 1, r.id, r.score) }
      }
      .toDF("query_id", "rank", "neighbor_id", "sim")
      .withColumn("sim", round(col("sim"), 4))
    // presentationSort=false for WRITERS (the persisted kNN store): a
    // partitioned write needs no global order, and the sort would be a
    // corpus-wide range exchange paid for nothing
    if (presentationSort) flat.orderBy("query_id", "rank") else flat
  }

  /** Exact float-cosine re-rank of a (query_id, neighbor_id) shortlist —
    * the ONE refinement stage of every quantized ANN face (int8, PQ,
    * IVF-PQ, residual IVF-PQ, 1-bit) and of [[IvfIndex.probePq]]:
    * k-sized float reads, shortlist-sized windows, ties broken on
    * neighbor_id, cut to `k`, sim rounded to 4 digits. The shortlist
    * join runs FIRST and the norms after: the O(Dim) float folds run for
    * the ~NumQueries·shortK surviving rows only — joining below a
    * corpus-wide norm projection would norm every row (Catalyst can't
    * push a join under a projection it depends on). [[exactRerankSql]]
    * is the DuckDB twin. */
  private[operators] def exactRerankOf(
      emb: DataFrame, shortlist: DataFrame, k: Int = TopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fe = emb.select(col("vec_id"), col("embedding"))
    val qe = fe.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qnrm", sqrt(dotCol("qv", "qv")))
    fe.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(shortlist), "neighbor_id")
      .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
      .join(broadcast(qe), "query_id")
      .withColumn("sim", dotCol("qv", "embedding") / (col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** `name AS (...)`: (vec_id, embedding, `norm` = ‖embedding‖) over the
    * embeddings table — the normed-corpus CTE the exact-cosine twins
    * start from. */
  private def normedSql(name: String, materialized: Boolean = false,
      norm: String = "nrm"): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (
      |  SELECT vec_id, embedding,
      |         SQRT(${dotSql("embedding", "embedding")}) AS $norm
      |  FROM embeddings)""".stripMargin

  /** DuckDB twin of the per-query top-k cut ([[topKPerQuery]],
    * [[exactRerankOf]]): `ranked` over `src(query_id, neighbor_id, sim)`
    * and the final SELECT of the top [[TopK]] per query, ties broken on
    * neighbor_id, sim rounded to 4 digits. Ends the statement. */
  private def topKTailSql(src: String): String =
    s"""ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM $src)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
      |       ROUND(sim, 4) AS sim
      |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of a shortlist → [[exactRerankOf]] query: `short` keeps
    * the top `shortK` rows of `scored(query_id, neighbor_id, sim)` per
    * query, `exact` re-scores them with float cosine against the normed
    * CTE `fe` ([[normedSql]], defined by the caller), and
    * [[topKTailSql]] cuts to [[TopK]]. Ends the statement. */
  private def exactRerankSql(scored: String, shortK: Int): String =
    s"""short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY sim DESC, neighbor_id) AS srn
      |    FROM $scored)
      |  WHERE srn <= $shortK),
      |qe AS (
      |  SELECT vec_id AS query_id, embedding AS qv, nrm AS qnrm FROM fe
      |  WHERE vec_id < $NumQueries),
      |exact AS (
      |  SELECT sh.query_id, sh.neighbor_id,
      |         (${dotSql("qe.qv", "nb.embedding")}) / (qe.qnrm * nb.nrm) AS sim
      |  FROM short sh
      |  JOIN fe nb ON sh.neighbor_id = nb.vec_id
      |  JOIN qe ON sh.query_id = qe.query_id),
      |${topKTailSql("exact")}""".stripMargin

  private val annCosineTopk = QueryDef(
    (s, dir) => {
      // single-file input = one partition; spread the O(Dim) per-row math.
      // sim via the native codegen'd expression (bit-identical to the HOF
      // fold and to the oracle's explicit sums).
      val emb = Tables.embeddingsSpread(s, dir)
      val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
      val queries = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      val scored = broadcast(queries)
        .join(corpus, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim",
          graft.functions.VectorFunctions.cosineSimilarity(col("q"), col("v")))
      topKPerQuery(s, scored)
    },
    Some(s"""WITH corpus AS (
      |  SELECT vec_id, embedding AS v,
      |         SQRT(${dotSql("embedding", "embedding")}) AS v_norm
      |  FROM embeddings),
      |queries AS (
      |  SELECT vec_id AS query_id, embedding AS q,
      |         SQRT(${dotSql("embedding", "embedding")}) AS q_norm
      |  FROM embeddings WHERE vec_id < $NumQueries),
      |scored AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |         (${dotSql("q", "v")}) / (q_norm * v_norm) AS sim
      |  FROM queries, corpus WHERE vec_id <> query_id),
      |${topKTailSql("scored")}""".stripMargin))

  private val NumPlanes = 16

  /** Deterministic ±1 hyperplanes: sign(p,d) = +1 iff the first hex digit
    * of md5("srp:p:d") is < '8'. Same bits in any engine. */
  private[operators] def planeSign(p: Int, d: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"srp:$p:$d".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0xf) < 8) 1 else -1
  }

  /** All 16 planes as ONE nested literal (a constant object at runtime —
    * nothing to codegen per element). */
  private lazy val planesLit: Column = typedLit(
    (0 until NumPlanes).map(p => (0 until Dim).map(d => planeSign(p, d).toDouble)))

  private def projCol(p: Int): Column =
    // native dot product — the aggregate(zip_with(...)) HOF form pays
    // interpreted lambda dispatch per element (16 planes × 128 dims per
    // row); ArrayDotDouble accumulates the identical left-to-right IEEE
    // sum (bit-equality suite-pinned), so signatures and the oracle's
    // banding are unchanged
    graft.functions.VectorFunctions.dotDouble(
      col("embedding"), element_at(planesLit, p + 1))

  private def projSql(p: Int): String =
    (1 to Dim).map { i =>
      val s = planeSign(p, i - 1)
      s"CAST(embedding[$i] AS DOUBLE) * ($s.0)"
    }.mkString(" + ")

  private val annLshSrp = QueryDef(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val signature = (0 until NumPlanes).map { p =>
        when(projCol(p) >= 0, 1L << p).otherwise(0L)
      }.reduce(_ + _)
      Tables.embeddingsSpread(s, dir)
        .withColumn("signature", signature)
        .withColumn("bucket_size",
          count(lit(1)).over(Window.partitionBy("signature")))
        .select("vec_id", "signature", "bucket_size")
        .orderBy("vec_id")
    },
    Some {
      val sigSql = (0 until NumPlanes).map { p =>
        s"CASE WHEN (${projSql(p)}) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH sig AS (
         |  SELECT vec_id, CAST($sigSql AS BIGINT) AS signature FROM embeddings)
         |SELECT vec_id, signature,
         |       count(*) OVER (PARTITION BY signature) AS bucket_size
         |FROM sig ORDER BY vec_id""".stripMargin
    })

  /** LSH-accelerated near-neighbor pairs: exact cosine, but only within a
    * signature bucket — the candidate set the SRP index admits. */
  private val annLshPairs = QueryDef(
    (s, dir) => {
      val signature = (0 until NumPlanes).map { p =>
        when(projCol(p) >= 0, 1L << p).otherwise(0L)
      }.reduce(_ + _)
      // Scale-safe plan (r1 verdict): a SHUFFLE HASH join on signature —
      // both sides hash-partitioned by the 16-bit signature, signature
      // materialized in the map-stage projection below each exchange. No
      // broadcast of the corpus (the r1 plan broadcast ALL of b — fine at
      // sf0.1, dead at 100 TB) and no sort-merge join (whose sort keys
      // re-evaluated the signature aggregate per comparison — 30s vs 6s).
      // signature+norm materialized below ONE signature-partitioned
      // exchange; every SkewGuard consumer (occupancy pass + both
      // self-join sides, cold and hot) reads that same exchange
      // (ReusedExchange), so the 16-fold projection runs once per row.
      // Hot signatures (a dense SRP cell — THE skew-prone key of this
      // repo, r3/r4 verdict #1) are triangle-salted by SkewGuard instead
      // of landing one quadratic task.
      val sig = Tables.embeddingsSpread(s, dir)
        .withColumn("band", signature)
        .withColumn("norm", sqrt(dotCol("embedding", "embedding")))
        .repartition(col("band"))
      SkewGuard.pairs(sig, "vec_id")
        .withColumn("sim",
          dotCol("embedding_1", "embedding_2") / (col("norm_1") * col("norm_2")))
        .select(col("vec_id_1"), col("vec_id_2"), round(col("sim"), 4).as("sim"))
        .orderBy("vec_id_1", "vec_id_2")
    },
    Some {
      val sigSql = (0 until NumPlanes).map { p =>
        s"CASE WHEN (${projSql(p)}) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH sig AS (
         |  SELECT vec_id, embedding, CAST($sigSql AS BIGINT) AS signature,
         |         SQRT(${dotSql("embedding", "embedding")}) AS norm
         |  FROM embeddings)
         |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         |       ROUND((${dotSql("a.embedding", "b.embedding")}) / (a.norm * b.norm), 4) AS sim
         |FROM sig a JOIN sig b
         |  ON a.signature = b.signature AND a.vec_id < b.vec_id
         |ORDER BY vec_id_1, vec_id_2""".stripMargin
    })

  /** BANDED-CANDIDATE embedding-cosine near-dup dedup. Contract (and
    * what the oracle checks): the pairs that (a) collide in at least one
    * SRP band AND (b) verify at exact cosine ≥ the threshold; the higher
    * vec_id of each pair is the drop candidate, keeping the lowest-id
    * representative (greedy keeper rule). This is deliberately NOT
    * "every pair over the threshold" — that exhaustive contract is
    * O(N²) and was the r1 scale-killer (all-pairs broadcast NLJ); the
    * banded contract is the one that survives 100 TB. The oracle
    * reproduces the banding, so it pins both the candidate semantics
    * and the exact-verify arithmetic; RECALL against the exhaustive
    * threshold contract is measured independently (not just documented)
    * in RecallSuite at small SF, where brute force is feasible.
    *
    * Banding (r7, widened r8): 40 bands of 6 FIXED-POINT SRP planes
    * ([[graft.functions.SrpBandCodes]]). For cosine s the per-plane
    * agreement probability is p = 1 − acos(s)/π, so recall =
    * 1 − (1 − p⁶)⁴⁰ ≈ 0.955 at s = 0.45 (this threshold; higher still
    * for more-similar pairs — most true pairs sit well above it) and
    * ≈ 1 at s = 0.9. The r6 4×4 design (recall ≈ 0.54 analytic, 0.62
    * measured) was capped by its oracle coupling: FLOAT projections
    * forced the twin to spell out every plane as a 128-term
    * left-to-right sum (accumulation-order equality), so the plane
    * budget stayed at 16 — too coarse to buy recall without
    * near-all-pairs candidate mass. Integer projections are order-free,
    * the twin computes them with a plain SUM/GROUP BY over md5-derived
    * signs, and the plane budget becomes a knob — r7 spent it to reach
    * 24×6 (analytic 0.84, measured 0.847 at sf0.1), r8 spends the
    * remaining headroom the verdict flagged: 40×6 lifts threshold-level
    * recall to ~0.955 for ~1.5× the candidate mass (unrelated-pair
    * collision 1 − (1 − 1/64)⁴⁰ ≈ 47% vs 31%; still band-local, never
    * all-pairs). Every candidate verifies at exact cosine, so false
    * positives stay 0 at any band count.
    *
    * Scale shape: band codes are one per-row kernel below the exchange;
    * the candidate join shuffles (vec_id, band) only; hot cells are
    * SkewGuard-salted; embeddings are fetched per candidate side via
    * shuffle hash joins on vec_id — nothing corpus-sized is ever
    * broadcast and no all-pairs comparison exists.
    *
    * ADAPTIVE band space (r19, lifting the r18 weak flag): a FIXED
    * 40×6 design has 40·2⁶ = 2560 band keys, so bucket occupancy grows
    * ∝ N and unrelated-candidate mass ∝ N² at ANY corpus (the measured
    * ×30 attempt: ~1.1B candidates, ~54 GB of shuffle). The
    * [[adaptiveNlist]] precedent applied here: [[adaptiveBandParams]]
    * grows rowsPerBand with log₂(N / [[BandCellTarget]]) so expected
    * bucket occupancy stays ~constant, and grows the band count by the
    * LSH recall identity so the ANALYTIC threshold recall never drops
    * below the floor design's 1 − (1 − p⁶)⁴⁰ ≈ 0.955 (bandsFor:
    * b(r) = ⌈40 · ln(1−p⁶)/ln(1−pʳ)⌉). Every corpus ≤ 2048 vectors —
    * all three driver SFs — resolves to the 40×6 floor, so the oracle
    * gate, bench, and RecallSuite pins are bit-unchanged. The honest
    * asymptotics: holding threshold recall constant costs
    * b ∝ (1/p)ʳ ≈ 1.54ʳ bands, i.e. total candidate work
    * Θ(N^(1+ρ)), ρ = ln(1/p₁)/ln 2 ≈ 0.62 at τ = 0.45 — the classic
    * SRP-LSH exponent, sub-quadratic but super-linear; τ = 0.45 is an
    * unusually loose near-dup bar (at a typical τ ≥ 0.85, ρ ≈ 0.28).
    * The ladder is capped at [[MaxRowsPerBand]] (= 2M vectors at the
    * occupancy target); past it a corpus should dedup through the
    * quantizer-cell family ([[seededAssignedOf]] — nlist ∝ N with NO
    * recall/band-mass tradeoff) or raise τ for candidate generation.
    * The DuckDB twin derives (r, b) from the SAME integer thresholds
    * via a generated CASE ladder over count(*) ([[bandParamsSqlCtes]]),
    * so both engines re-parameterize in lockstep by construction. */
  private[graft] val NearDupThreshold = 0.45
  private val DedupBands = 40
  private val DedupRowsPerBand = 6

  /** Expected rows per band bucket the ladder holds: the floor design's
    * occupancy ceiling (2048 vectors / 2⁶ codes per band = 32). */
  private[operators] val BandCellTarget = 32L

  /** Ladder cap: rowsPerBand stops growing at 16 (corpora past
    * [[BandCellTarget]]·2¹⁶ ≈ 2.1M vectors — see the class note). */
  private[operators] val MaxRowsPerBand = 16

  /** Verify-fetch face BYTE budget: an embeddings relation whose
    * estimated broadcast size (rows × per-row bytes from the vector
    * dimension) stays under this broadcasts for the candidate verify
    * joins — the dim-lookup pattern, so the candidate mass never
    * exchanges; past it the shuffle-hash fetch face returns. Same sized
    * two-face discipline as [[LiteralCentroidMax]]. Set by measurement
    * (xcap drive, 1.04M vectors at dim 64, docs/PLANS_r19.md §2): the
    * broadcast face took dedup_semantic's post-assignment verify phase
    * 40.1 → 5.8 s vs the shuffle-hash face, rows identical, and the
    * 1M-vs-2M row A/B picked the 2M-row (= 600 MB at dim 64) cap —
    * worth two such broadcasts per executor at that size. r20 (r19
    * advice): the budget is BYTES, not rows — a 1536-dim deployment
    * crosses to the shuffle-hash face at ~97k rows, not 2M (the row
    * proxy would have broadcast ~12 GB). */
  private[graft] val FetchBroadcastMaxBytes = 600L * 1000 * 1000

  /** Estimated broadcast bytes per (vec_id, embedding) row at vector
    * dimension `dim`: 4-byte floats plus the measured ~44 B of UnsafeRow
    * + array-header + hash-map overhead at dim 64 (≈300 B/row total —
    * the r19 xcap measurement the byte budget was calibrated on). */
  private[graft] def fetchRowBytes(dim: Int): Long = 4L * dim + 44L

  /** Row threshold the byte budget implies at dimension `dim` —
    * exactly 2,000,000 rows at this corpus's dim 64 (the shipped r19
    * value, now DERIVED so a dimension change rescales it). */
  private[graft] def fetchBroadcastMaxRows(dim: Int): Long =
    FetchBroadcastMaxBytes / fetchRowBytes(dim)

  /** Test/drive override of the sized verify-fetch face:
    * -Dgraft.verifyFetchFace=broadcast|shuffle pins the face regardless
    * of corpus size (A/B attribution — the r20 peak-memory adjudication
    * and the past-cap int8-screen drives); absent or `auto` keeps the
    * sized decision. Results are bit-identical on either face. */
  private def fetchFaceOverride: Option[String] =
    sys.props.get("graft.verifyFetchFace").filterNot(_ == "auto")

  /** The ONE face decision shared by [[verifyFetchSide]] and
    * [[int8Screen]] — they must agree or the screen would pay its two
    * extra joins on the face that doesn't need it. */
  private def shuffleFaceChosen(n: Long, dim: Int): Boolean =
    fetchFaceOverride match {
      case Some("shuffle") => true
      case Some("broadcast") => false
      case _ => n > fetchBroadcastMaxRows(dim)
    }

  /** One side of a candidate-verify embedding fetch, SIZED (see
    * [[FetchBroadcastMaxBytes]]): below the byte budget the dim-lookup
    * relation broadcasts so the candidate mass never exchanges; past it
    * the shuffle-hash face returns. Shared by the banded pair family
    * and the quantizer-cell verify ([[semanticDropped]]). */
  private[graft] def verifyFetchSide(emb: DataFrame, n: Long,
      as: String, ecol: String, dim: Int = Dim): DataFrame = {
    val side = emb.select(col("vec_id").as(as), col("embedding").as(ecol))
    if (!shuffleFaceChosen(n, dim)) broadcast(side)
    else side.hint("shuffle_hash")
  }

  /** Slack on the screen threshold absorbing double-arithmetic rounding
    * in the upper bound — over-KEEPING only (a kept candidate just pays
    * its exact verify; the bound itself is derived in exact terms). */
  private val ScreenSlackEps = 1e-9

  /** One side of the int8 screen: per-vector symmetric int8 codes
    * (same floor(x·127/m + 0.5) quantization as the `ann_int8_*`
    * family's [[quantized]]) packed as ARRAY<TINYINT> (1 B/dim on the
    * exchange vs 4 B/dim floats), plus the scale s = m/127, the code
    * norm ‖c‖, and the EXACT vector norm ‖v‖. ~112 B/row at dim 64 vs
    * ~300 B for the float row — the ~4× per-candidate byte cut. */
  private[graft] def int8ScreenSide(emb: DataFrame, as: String, sfx: String): DataFrame =
    emb
      .withColumn("__m",
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn(s"c$sfx", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * " +
          "(case when __m = 0.0 then 0.0 else 127.0 / __m end) + 0.5) as tinyint))"))
      .withColumn(s"cs$sfx",
        when(col("__m") === 0.0, lit(0.0)).otherwise(col("__m") / lit(127.0)))
      .withColumn(s"cn$sfx", sqrt(graft.functions.VectorFunctions
        .dotTiny(col(s"c$sfx"), col(s"c$sfx")).cast("double")))
      .withColumn(s"nr$sfx", sqrt(dotCol("embedding", "embedding")))
      .select(col("vec_id").as(as),
        col(s"c$sfx"), col(s"cs$sfx"), col(s"cn$sfx"), col(s"nr$sfx"))

  /** Int8 BOUND-PREFILTER on the shuffle-hash fetch face (r20 — the
    * rung past [[FetchBroadcastMaxBytes]] named in docs/PLANS_r19.md §2,
    * the same lossless-screen discipline as `dedup_containment`'s
    * xxhash64 verify screen): candidates first fetch 1 B/dim int8 codes
    * instead of 4 B/dim floats, and only candidates whose cosine UPPER
    * BOUND clears the threshold proceed to the raw-float fetch — so the
    * exchanges carrying the full candidate mass shrink ~4×, and the
    * float fetch joins run at SURVIVOR size (output-bound, the shape
    * that holds at 100 TB).
    *
    * LOSSLESS by construction (suite-pinned, Int8ScreenSuite): with
    * v = s·c + e, |e_i| ≤ s/2 elementwise ⇒ ‖e‖ ≤ s·√d/2 = ε, so
    *   u·v ≤ s_u s_v (c_u·c_v) + ‖û‖ε_v + ε_u‖v̂‖ + ε_u ε_v
    *       = s_u s_v (c_u·c_v + (√d/2)(‖c_u‖+‖c_v‖) + d/4)
    * and dividing by the EXACT norms gives ub ≥ cos(u,v) for every
    * pair; the screen keeps ub ≥ τ − [[ScreenSlackEps]]. A zero-norm
    * vector yields ub = NaN and is screened — its exact sim is NaN and
    * the verify filter drops it identically, so the OUTPUT contract
    * (and the DuckDB oracle, which never sees the screen) is unchanged.
    *
    * Candidate columns ride through untouched (the quantizer-cell face
    * carries csim_1/csim_2); only the screen's own columns are dropped.
    * On the broadcast face the candidates return unscreened — the fetch
    * is exchange-free there, so the screen would only add joins. */
  private[graft] def int8Screen(emb: DataFrame, n: Long, cand: DataFrame,
      leftId: String, rightId: String, dim: Int = Dim): DataFrame =
    if (!shuffleFaceChosen(n, dim)) cand
    else {
      val rootD2 = math.sqrt(dim.toDouble) / 2.0
      val dotq = graft.functions.VectorFunctions
        .dotTiny(col("c_s1"), col("c_s2")).cast("double")
      // a zero-norm side bypasses the division (ANSI mode makes 0/0 an
      // error) and is KEPT: the exact verify computes sim = NaN there,
      // and Spark SQL orders NaN above every double, so `sim >= τ`
      // RETAINS such pairs — the screen must match that engine
      // contract, not IEEE intuition (suite-pinned with a zero vector)
      val ub = when(col("nr_s1") > 0.0 && col("nr_s2") > 0.0,
        (col("cs_s1") * col("cs_s2") *
          (dotq + lit(rootD2) * (col("cn_s1") + col("cn_s2")) +
            lit(rootD2 * rootD2))) / (col("nr_s1") * col("nr_s2")))
        .otherwise(lit(Double.PositiveInfinity))
      cand
        .join(int8ScreenSide(emb, leftId, "_s1").hint("shuffle_hash"), leftId)
        .join(int8ScreenSide(emb, rightId, "_s2").hint("shuffle_hash"), rightId)
        .filter(ub >= lit(NearDupThreshold - ScreenSlackEps))
        .drop("c_s1", "cs_s1", "cn_s1", "nr_s1",
          "c_s2", "cs_s2", "cn_s2", "nr_s2")
    }

  /** Per-plane agreement probability for a pair at exactly the
    * threshold: p = 1 − acos(τ)/π (StrictMath — the constant feeds
    * GENERATED SQL, so it must be identical on every JVM). */
  private val ThresholdPlaneAgree: Double =
    1.0 - StrictMath.acos(NearDupThreshold) / StrictMath.PI

  /** Band count holding the floor's analytic threshold recall at
    * rowsPerBand = r: smallest b with (1−pʳ)ᵇ ≤ (1−p⁶)⁴⁰. */
  private[operators] def bandsFor(r: Int): Int =
    if (r <= DedupRowsPerBand) DedupBands
    else {
      val lnMiss = DedupBands * StrictMath.log1p(
        -StrictMath.pow(ThresholdPlaneAgree, DedupRowsPerBand.toDouble))
      StrictMath.ceil(lnMiss / StrictMath.log1p(
        -StrictMath.pow(ThresholdPlaneAgree, r.toDouble))).toInt
    }

  /** (rowsPerBand, bands) for a corpus of n vectors: smallest r ≥ 6
    * with [[BandCellTarget]]·2ʳ ≥ n (integer arithmetic only — the
    * SQL twin compares against the same `BandCellTarget << r`
    * thresholds), b from [[bandsFor]]. */
  private[graft] def adaptiveBandParams(n: Long): (Int, Int) = {
    var r = DedupRowsPerBand
    while (r < MaxRowsPerBand && (BandCellTarget << r) < n) r += 1
    (r, bandsFor(r))
  }

  /** CTEs `bpn(cnt)`, `bpr(r)`, `bp(r, b)` — the DuckDB twin of
    * [[adaptiveBandParams]]. The CASE arms are GENERATED from the same
    * Scala ladder (integer thresholds, integer band counts), so the
    * engines cannot drift: there is no float math on the SQL side. */
  private def bandParamsSqlCtes: String = {
    val rArms = (DedupRowsPerBand until MaxRowsPerBand).map(r =>
      s"WHEN cnt <= ${BandCellTarget << r} THEN $r").mkString(" ")
    val bArms = (DedupRowsPerBand to MaxRowsPerBand).map(r =>
      s"WHEN $r THEN ${bandsFor(r)}").mkString(" ")
    s"""bpn AS (SELECT count(*) AS cnt FROM embeddings),
       |bpr AS (SELECT CASE $rArms ELSE $MaxRowsPerBand END AS r FROM bpn),
       |bp AS (SELECT r, CASE r $bArms END AS b FROM bpr)""".stripMargin
  }

  /** SQL twin of the band-code derivation (DuckDB): same md5 signs, same
    * floor(x·2^20) quantization, order-free integer sums. Band params
    * come from the `bp` ladder CTE ([[bandParamsSqlCtes]]) — `range()`
    * cannot take a subquery bound in DuckDB, so the plane relation
    * enumerates the ladder's MAXIMUM (a few-ms constant scan) and
    * filters to the r·b planes this corpus actually uses; the filter
    * references only `pp`, so it pushes below the dims cross join and
    * the md5 work stays proportional to the live plane count. */
  private def bandCodesSqlCtes: String =
    s"""$bandParamsSqlCtes,
      |qe AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |planes AS (
      |  SELECT CAST(pp.range AS INT) AS p, CAST(dd.range AS INT) AS d,
      |         CASE WHEN substr(md5('srp:' || CAST(pp.range AS VARCHAR) || ':' ||
      |                               CAST(dd.range AS VARCHAR)), 1, 1)
      |                   BETWEEN '0' AND '7'
      |              THEN 1 ELSE -1 END AS s
      |  FROM range(${MaxRowsPerBand * bandsFor(MaxRowsPerBand)}) pp, range($Dim) dd
      |  WHERE pp.range < (SELECT r * b FROM bp)),
      |proj AS (
      |  SELECT q.vec_id, pl.p, SUM(q.q[pl.d + 1] * pl.s) AS pr
      |  FROM qe q CROSS JOIN planes pl
      |  GROUP BY q.vec_id, pl.p),
      |bands AS (
      |  SELECT vec_id,
      |         CAST((p // (SELECT r FROM bp)) * (CAST(1 AS BIGINT) << (SELECT r FROM bp)) +
      |              SUM(CASE WHEN pr >= 0
      |                       THEN CAST(1 AS BIGINT) << (p % (SELECT r FROM bp)) ELSE 0 END)
      |              AS BIGINT) AS band
      |  FROM proj GROUP BY vec_id, p // (SELECT r FROM bp))""".stripMargin

  /** RAW banded candidate pairs (pre-verify, with cross-band
    * multiplicity) at the corpus's [[adaptiveBandParams]] — the frame
    * the scaling census counts ([[graft.ScaleReport]]) and the verify
    * stage consumes. */
  private[graft] def bandCandidates(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding"))
    // nlist-precedent sizing action: ONE memoized count per (session,
    // dir) picks the band ladder rung; the twin derives the same rung
    // from count(*) inside its own SQL
    val (rowsPerBand, nBands) =
      adaptiveBandParams(embeddingsCountFor(s, dir))
    // band ids materialized below one band-partitioned exchange shared
    // by both candidate-join sides (ReusedExchange); one native kernel
    // per row (nBands × rowsPerBand fixed-point planes)
    val bands = emb.select(col("vec_id"),
      explode(graft.functions.VectorFunctions.srpBandCodes(
        col("embedding"), rowsPerBand, nBands)).as("band"))
      .repartition(col("band"))
    // hot bands (boilerplate-dense SRP cells) triangle-salted by
    // SkewGuard; cold bands keep the shuffle-hash self-join
    SkewGuard.pairs(bands, "vec_id")
      .select(col("vec_id_1").as("vec_id_keeper"),
        col("vec_id_2").as("vec_id_dropped"))
  }

  /** Verified embedding-cosine near-dup pairs (pre-ordering) — shared by
    * the pairs query and the cluster query ([[Dedup]]). */
  private[graft] def embeddingCosinePairs(s: SparkSession, dir: String): DataFrame = {
    // the native codegen'd expression (graft.functions.CosineSimilarity)
    // computes dot+norms in one tight loop per pair — bit-identical to
    // the HOF fold (VectorExpressionsSuite), so the oracle still matches
    val emb = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding"))
    // Candidates verify FIRST and dedupe LAST (r18, closing the r17
    // spill watch): a pair colliding in k bands is verified k times,
    // but cross-band duplication is shallow at the ladder's occupancy
    // target (measured ×10: 138M raw vs 95M distinct at the fixed 40×6;
    // the adaptive ladder trades some of that for near-dup multiplicity
    // — see the census in METRICS) while the verified output is far
    // smaller than the candidate mass — a pre-verify distinct builds
    // candidate-SIZED hash-agg state (the one 10.4 GB-spill stage of
    // the whole heavy family; its partial combine couldn't help,
    // duplicates of a pair live in DIFFERENT band partitions), whereas
    // the post-filter distinct's state is OUTPUT-sized, which is the
    // shape that holds at 100 TB: aggregate memory ∝ results, never
    // ∝ candidates. The duplicate verifies ride the already-streaming
    // joins and the codegen'd cosine kernel (no new exchange class).
    //
    // FETCH FACE (r19): the verify stage is a DIM LOOKUP — a huge
    // candidate stream probing a corpus-row-sized embeddings relation.
    // The shuffle-hash face exchanges the candidate mass TWICE, and the
    // second exchange carries e1 (64 floats barely compress): measured
    // ~192 B/candidate — 11.5 GB at ×10, an extrapolated ~84 GB at ×30,
    // which (not the band space) is what filled the host after the
    // ladder fixed candidate GROWTH. Below the [[FetchBroadcastMaxBytes]] budget
    // the embeddings side BROADCASTS (≲ 300 MB of plan-estimated
    // bytes): both fetch joins become map-side over the band-partitioned
    // candidate stream, the candidate mass never exchanges at all, and
    // the only shuffles left are the (vec_id, band) exchange and the
    // OUTPUT-sized distinct. Past the threshold the shuffle-hash face
    // returns (nothing corpus-sized is ever force-broadcast); at that
    // scale the production answer is attaching compact codes (int8
    // bound-prefilter) to the candidate stream — see the class note.
    val n = embeddingsCountFor(s, dir)
    // past the broadcast budget, the int8 bound-prefilter screens the
    // candidate mass before any raw-float fetch (lossless — see
    // [[int8Screen]]); below it the screen is a no-op
    val cand = int8Screen(emb, n, bandCandidates(s, dir),
      "vec_id_keeper", "vec_id_dropped")
    cand
      .join(verifyFetchSide(emb, n, "vec_id_keeper", "e1"), "vec_id_keeper")
      .join(verifyFetchSide(emb, n, "vec_id_dropped", "e2"), "vec_id_dropped")
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("e1"), col("e2")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("vec_id_keeper"), col("vec_id_dropped"),
        round(col("sim"), 4).as("sim"))
      // same pair from different bands ⇒ same embeddings ⇒ identical
      // sim bits, so the pair-key distinct can carry sim through
      .distinct()
  }

  /** SQL twin of [[embeddingCosinePairs]] — reused (as a subquery) by the
    * cluster oracle. */
  private[operators] val embeddingCosinePairsSql: String =
    s"""WITH ${normedSql("e", norm = "norm")},
      |$bandCodesSqlCtes,
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_id_keeper, b.vec_id AS vec_id_dropped
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id)
      |SELECT c.vec_id_keeper, c.vec_id_dropped,
      |       ROUND((${dotSql("e1.embedding", "e2.embedding")}) / (e1.norm * e2.norm), 4) AS sim
      |FROM cand c
      |JOIN e e1 ON c.vec_id_keeper = e1.vec_id
      |JOIN e e2 ON c.vec_id_dropped = e2.vec_id
      |WHERE (${dotSql("e1.embedding", "e2.embedding")}) / (e1.norm * e2.norm) >= $NearDupThreshold""".stripMargin

  private val dedupEmbeddingCosine = QueryDef(
    (s, dir) => embeddingCosinePairs(s, dir)
      .orderBy("vec_id_keeper", "vec_id_dropped"),
    Some(s"$embeddingCosinePairsSql\nORDER BY vec_id_keeper, vec_id_dropped"))

  private[operators] val NumCentroids = 8

  /** DATA-DEPENDENT nlist for the SEEDED coarse quantizer (the
    * [[seededAssignedOf]] family: semantic dedup, centroid tails, the
    * kNN graph): cell count grows linearly with the corpus at
    * ~[[AdaptiveCellTarget]] rows per cell — the SemDeDup "nlist ∝ N"
    * knob made real (the r16 ×10 sweep measured 27× shuffle growth on
    * `knn_graph` with the fixed 8: within-cell pair work is quadratic
    * in occupancy, so occupancy must stay constant as N grows). Floored
    * at [[NumCentroids]] (the value every ≤2k-row oracle/bench corpus
    * resolves to, so the small-SF gates are unchanged) and UNCAPPED:
    * past [[LiteralCentroidMax]] centroids the assignment switches from
    * the literal fold to the broadcast-join quantizer face
    * ([[assignCellsWithSimBcast]]), so occupancy stays ~constant at any
    * N instead of re-opening quadratic cells at N/4096 (the r16 ceiling).
    * Both engines derive nlist from the same `count(*)`, so the DuckDB
    * twins stay in lockstep by construction. */
  private[operators] val AdaptiveCellTarget = 250L
  private[operators] def adaptiveNlist(n: Long): Long =
    math.max(NumCentroids.toLong, n / AdaptiveCellTarget)

  /** The SQL-side twin of [[adaptiveNlist]] over the `embeddings`
    * table (DuckDB `//` floors like Spark's `div` on non-negatives). */
  private def adaptiveNlistSql: String =
    s"(SELECT GREATEST($NumCentroids, " +
      s"count(*) // $AdaptiveCellTarget) FROM embeddings)"

  /** Nearest-centroid assignment — the NATIVE codegen'd kernel
    * ([[graft.functions.NearestCentroid]], r17 verdict #1): identical
    * left-associated arithmetic, strict-`>` NaN-safe argmax, and
    * ascending-cent_id tie-break as the HOF fold it replaced
    * ([[nearestCentroidHof]], kept below as the suite's bit-identity
    * witness), but as a tight primitive double loop under whole-stage
    * codegen instead of interpreted lambda dispatch per centroid — the
    * measured N×nlist = N²/250 assignment term past ~1M vectors
    * (docs/PLANS_r17.md §4) keeps its work count and loses its constant.
    * Plan shape is unchanged on both quantizer faces: nothing shuffles
    * and nothing is replicated; each row scans the nlist-entry array
    * once (literal below [[LiteralCentroidMax]], one broadcast row past
    * it). */
  private def nearestCentroid(cents: Column, vec: Column, nrm: Column): Column =
    graft.functions.VectorFunctions.nearestCentroid(cents, vec, nrm)

  /** The original HOF fold (r2 verdict #1 replaced the cross-join +
    * `row_number` window with this; r17 verdict #1 replaced THIS with the
    * native kernel). Kept as the executable specification the
    * `SeededQuantizerFaceSuite` pins the kernel against, cell-for-cell
    * and csim-bit-for-bit: the array is sorted by cent_id and the fold
    * replaces only on a STRICT csim improvement, so ties keep the lowest
    * cent_id — exactly the oracle's `ORDER BY csim DESC, cent_id`. */
  private[operators] def nearestCentroidHof(cents: Column, vec: Column, nrm: Column): Column =
    aggregate(
      cents,
      struct(lit(-1L).as("cent_id"), lit(-2.0).as("csim")),
      (acc, c) => {
        val csim = aggregate(
          zip_with(vec, c.getField("cvec"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (a, x) => a + x) / (nrm * c.getField("cnrm"))
        when(csim > acc.getField("csim"),
          struct(c.getField("cent_id").as("cent_id"), csim.as("csim")))
          .otherwise(acc)
      })

  /** Driver-side centroid: nlist×Dim values no matter the corpus size
    * (8×64 doubles here) — the quantizer is metadata, only the corpus is
    * data. Field names match what [[nearestCentroid]] reads via
    * getField, so `typedLit(Seq[Centroid])` drops straight into the
    * fold as a literal array (a single references-array entry in
    * codegen — no join, no broadcast exchange, no sub-plan). */
  private[operators] case class Centroid(cent_id: Long, cvec: Seq[Double], cnrm: Double)

  /** Collect a (cent_id, cvec, cnrm) relation to the driver, sorted by
    * cent_id so the fold's tie-break stays deterministic regardless of
    * task completion order. Seed centroids carry float vectors, trained
    * ones 6-decimal-rounded doubles; float→double widening is exact, so
    * unifying on double changes no value. */
  private[operators] def collectCentroids(cents: DataFrame): Seq[Centroid] =
    cents.collect().toSeq.map { r =>
      val cv: Seq[Double] = r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }
      Centroid(r.getLong(0), cv, r.getDouble(2))
    }.sortBy(_.cent_id)

  /** Assign every embedding row to its nearest cell — zero shuffle, zero
    * row blowup, zero sub-plan (the centroid array is a literal). The
    * `WithSim` form also surfaces the winning centroid-similarity (the
    * fold computes it anyway); [[assignCells]] keeps the original narrow
    * schema for consumers that persist or aggregate the assignment
    * ([[IvfIndex]], the Lloyd step). */
  private[operators] def assignCellsWithSim(emb: DataFrame, cents: Seq[Centroid]): DataFrame =
    emb.withColumn("best",
        nearestCentroid(typedLit(cents), col("embedding"), col("nrm")))
      .select(col("vec_id"), col("best").getField("cent_id").as("cell"),
        col("best").getField("csim").as("csim"), col("embedding"), col("nrm"))

  private[operators] def assignCells(emb: DataFrame, cents: Seq[Centroid]): DataFrame =
    assignCellsWithSim(emb, cents).drop("csim")

  /** Centroid literals stop being plan-sized past this many entries —
    * beyond it the seeded quantizer switches to the broadcast-join face
    * ([[assignCellsWithSimBcast]]). 4096 × 64-dim doubles ≈ 2 MB of
    * literal per plan fragment is the measured comfort ceiling. */
  private[operators] val LiteralCentroidMax = 4096L

  /** The BROADCAST-JOIN quantizer face: identical assignment to
    * [[assignCellsWithSim]] — same [[nearestCentroid]] fold, same
    * ascending-cent_id tie-break, bit-identical csim — but the centroid
    * array arrives as ONE broadcast row instead of a plan literal, so
    * nlist can grow ∝ N past [[LiteralCentroidMax]] without the plan
    * (and every task's deserialized copy of it) growing with the corpus.
    * `sort_array` over the unique-cent_id structs reproduces the
    * driver-side `.sortBy(_.cent_id)` exactly (struct ordering is
    * lexicographic and cent_id leads), and float→double widening via
    * `cast` is the same exact conversion [[collectCentroids]] applies —
    * so the fold reads the same values in the same order on both faces
    * (the `SeededQuantizerFaceSuite` pin). The corpus itself still never
    * shuffles: the centroid aggregation exchanges nlist rows, and the
    * join is a broadcast nested loop against a single row. */
  private[operators] def assignCellsWithSimBcast(
      emb: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(sort_array(collect_list(struct(
      col("cent_id"), col("cvec"), col("cnrm")))).as("cents_arr"))
    emb.crossJoin(broadcast(packed))
      .withColumn("best",
        nearestCentroid(col("cents_arr"), col("embedding"), col("nrm")))
      .select(col("vec_id"), col("best").getField("cent_id").as("cell"),
        col("best").getField("csim").as("csim"), col("embedding"), col("nrm"))
  }

  /** The seeded centroid RELATION (first `nlist` vectors, double-widened)
    * — the broadcast face's input; same rows [[collectCentroids]] would
    * collect for the literal face. */
  private[operators] def seededCentsDf(emb: DataFrame, nlist: Long): DataFrame =
    emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"),
        col("nrm").as("cnrm"))

  /** Past this many centroids the FLAT argmax itself is the measured
    * bottleneck (docs/PLANS_r18.md §1: with the native kernel,
    * assignment work N×nlist = N²/250 re-dominates past ~5M vectors ≈
    * nlist ~20k). The TWO-LEVEL face ([[assignCellsWithSimTwoLevel]],
    * N·(√nlist + members) probes instead of N·nlist) was built for this
    * regime and measured 42× faster at 4.16M vectors — and REJECTED as
    * a default by measurement: the standard IVF coarse-assignment
    * approximation recovers only 16% cell agreement / 38% of the
    * dedup's dropped set vs the exact flat quantizer on this
    * near-isotropic embedding family, with or without Lloyd-trained
    * reps (docs/PLANS_r18.md §6). This constant marks the measured
    * regime boundary and sizes the experimental face's tests; the
    * DEFAULT stays the exact flat quantizer at every nlist. */
  private[operators] val TwoLevelMin = 16384L

  /** Deterministic group count: ⌊√nlist⌋ floored at 1 — balances the
    * two probe phases (reps vs members) at √nlist each. */
  private[operators] def twoLevelGroups(nlist: Long): Long =
    math.max(1L, math.sqrt(nlist.toDouble).toLong)

  /** The TWO-LEVEL quantizer face — EXPERIMENTAL, deliberately NOT a
    * default face (measured rejection, docs/PLANS_r18.md §6): group
    * representatives are Lloyd-trained from the centroids
    * ([[twoLevelReps]]); every centroid joins the group of its nearest
    * rep (the IDENTICAL [[nearestCentroid]] fold semantics — strict
    * `>`, ascending rep id on ties); a corpus row probes the reps, then
    * the winning group's member list. All quantizer metadata moves as
    * ONE broadcast row {members_map} plus the rep literal; the corpus
    * never shuffles for assignment (the broadcast-face invariant). The
    * reps array is RESTRICTED to non-empty groups (collected as
    * group-id metadata, ≤ √nlist longs), so the map lookup is total by
    * construction — no row can probe an empty group. Within the chosen
    * group the assignment is EXACT (same fold, true cent_ids), which is
    * the suite's within-group pin: wherever the flat argmax's winner
    * lives in the probed group, two-level ≡ flat bit-for-bit.
    *
    * Measured at 4.16M vectors / nlist 16640 (docs/PLANS_r18.md): the
    * assignment pass is 16.5 s vs flat's 686.6 s (42×) and the full
    * dedup_semantic completes deterministically — but single-probe
    * coarse assignment recovers only 16% cell agreement and 38% of the
    * dedup dropped set vs exact flat on this near-isotropic embedding
    * family (recall drive at 500k vectors; Lloyd training moved
    * agreement 13→16%, recall within noise). Kept suite-pinned for a
    * future clustered-embedding family or an explicit opt-in; never a
    * silent default. */
  /** Lloyd rounds for the two-level REPS: seeded reps over random-ish
    * 64-dim vectors group centroids near-arbitrarily (measured: 13%
    * cell agreement with flat, 39% dropped-set recall at 500k vectors),
    * so the coarse level is TRAINED — the classic IVF/IMI design, with
    * the engine's kmeans determinism precedent (ROUND(AVG, 6)
    * coordinate means, exact driver-side norms, renumbered ascending).
    * Two rounds over nlist METADATA rows per round. */
  private[operators] val TwoLevelLloydRounds = 2

  /** The TRAINED two-level reps for a centroid relation — seed = the
    * first ⌊√nlist⌋ centroids, then [[TwoLevelLloydRounds]] Lloyd
    * rounds (renumbered ascending; empty groups drop naturally). Shared
    * with the suite so the driver replica probes the SAME reps. */
  private[operators] def twoLevelReps(
      cents: DataFrame, nlist: Long): Seq[Centroid] = {
    // seed from the FIRST floor(sqrt(nlist)) centroids by cent_id
    // ORDER, not by id VALUE (`cent_id < twoLevelGroups(nlist)` assumed
    // ids dense from 0 — sparse or offset ids selected zero rows and
    // reps0.head threw bare NoSuchElementException; r18 advice)
    val reps0 = collectCentroids(
      cents.orderBy("cent_id").limit(twoLevelGroups(nlist).toInt))
    require(reps0.nonEmpty,
      s"two-level reps: no centroids to seed from (nlist=$nlist, " +
        s"groups=${twoLevelGroups(nlist)}) — is the centroid relation empty?")
    val dim = reps0.head.cvec.length
    def lloyd(reps: Seq[Centroid]): Seq[Centroid] = {
      val repsL = typedLit(reps)
      cents
        .withColumn("grp", graft.functions.VectorFunctions.nearestCentroid(
          repsL, col("cvec"), col("cnrm")).getField("cent_id"))
        .groupBy("grp")
        .agg(array((1 to dim).map(j =>
          round(avg(element_at(col("cvec"), j)), 6)): _*).as("cvec"))
        .collect().toSeq
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
        .sortBy(_._1).zipWithIndex
        .map { case ((_, cv), i) => Centroid(i.toLong, cv, normLocal(cv)) }
    }
    (1 to TwoLevelLloydRounds).foldLeft(reps0)((r, _) => lloyd(r))
  }

  /** Multi-probe extension (r19 verdict task 2): `probes` = how many
    * nearest GROUPS a row scans before taking the exact argmax over
    * their united member lists. p = 1 is bit-identical to the r18
    * single-probe face. Cost per row: p sequential rep-kernel passes
    * (each over ≤ ⌊√nlist⌋ reps, later passes over literal-filtered
    * arrays) + p member-kernel passes (each ~√nlist centroids) — i.e.
    * work ≈ (p+1)·√nlist vs flat's nlist, a nlist/((p+1)·√nlist)
    * theoretical ceiling on the speedup. Winner selection mirrors the
    * flat argmax exactly: strictly greater csim wins, an equal-csim
    * tie keeps the LOWER cent_id, degenerate (-1) per-group winners
    * and missing groups (probes > live groups) are skipped — so
    * whenever flat's true winner lives in ANY probed group, multi-probe
    * ≡ flat bit-for-bit (the suite's within-group pin, generalized). */
  private[operators] def assignCellsWithSimTwoLevel(
      emb: DataFrame, cents: DataFrame, nlist: Long,
      probes: Int = 1): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val repsAll = twoLevelReps(cents, nlist)
    val repsLit = typedLit(repsAll)
    // each centroid joins its nearest rep's group (metadata-sized job;
    // the kernel accepts the double-widened cvec directly)
    val grouped = cents.withColumn("grp",
      graft.functions.VectorFunctions.nearestCentroid(
        repsLit, col("cvec"), col("cnrm"))
        .getField("cent_id"))
    val packed = grouped.groupBy("grp")
      .agg(sort_array(collect_list(struct(
        col("cent_id"), col("cvec"), col("cnrm")))).as("members"))
      .agg(
        map_from_entries(sort_array(collect_list(
          struct(col("grp"), col("members"))))).as("members_map"),
        sort_array(collect_list(col("grp"))).as("live_grps"))
    // restrict the rep list to non-empty groups so element_at is total
    val liveGrps = packed.select(explode(col("live_grps"))).collect()
      .map(_.getLong(0)).toSet
    val repsLiveSeq = repsAll.filter(c => liveGrps.contains(c.cent_id))
    val repsLive = typedLit(repsLiveSeq)
    val p = math.min(probes, repsLiveSeq.size)
    val k = graft.functions.VectorFunctions.nearestCentroid _
    val base = emb.crossJoin(broadcast(packed.select("members_map")))
    if (p == 1) {
      // the r18 single-probe face VERBATIM (native kernel argmax over
      // the reps, then over the winning group) — suite-pinned
      // bit-identity is preserved by not touching this path
      base
        .withColumn("grp",
          k(repsLive, col("embedding"), col("nrm")).getField("cent_id"))
        .withColumn("best",
          k(element_at(col("members_map"), col("grp")),
            col("embedding"), col("nrm")))
        .select(col("vec_id"), col("best").getField("cent_id").as("cell"),
          col("best").getField("csim").as("csim"), col("embedding"), col("nrm"))
    } else {
      // p ≥ 2: EVERYTHING under single-evaluation HOFs. The first
      // attempt computed grp_i columns by sequential exclusion
      // (filter + kernel per probe) and folded p winner expressions
      // with nested when() — CollapseProject inlined each grp tree
      // into every later reference and the expression DUPLICATED
      // exponentially (p=8 never finished; measured p=2 already 10×
      // the p=1 wall). Here each stage is one array expression whose
      // lambda arguments are evaluated exactly once: rank ALL reps
      // (one transform + array_sort by (-csim, id) — ascending-id on
      // ties like the kernel), slice the top p, map each probed group
      // to its EXACT member-kernel winner, fold once (strict csim,
      // lower cent_id on ties — the flat argmax's selection rule;
      // degenerate (-1) winners lose).
      val ranked = array_sort(transform(repsLive, r => struct(
        (lit(0.0) - nearestCentroidHofSim(r, col("embedding"), col("nrm")))
          .as("negsim"),
        r.getField("cent_id").as("cent_id"))))
      val winners = transform(
        slice(ranked, 1, p),
        g => k(element_at(col("members_map"), g.getField("cent_id")),
          col("embedding"), col("nrm")))
      val best = aggregate(winners,
        struct(lit(-1L).as("cent_id"), lit(-2.0).as("csim")),
        (acc, w) =>
          when(w.isNull || w.getField("cent_id") === -1L, acc)
            .otherwise(when(acc.getField("cent_id") === -1L, w)
              .otherwise(when(
                w.getField("csim") > acc.getField("csim") ||
                  (w.getField("csim") === acc.getField("csim") &&
                    w.getField("cent_id") < acc.getField("cent_id")), w)
                .otherwise(acc))))
      base
        .withColumn("best", best)
        .select(col("vec_id"), col("best").getField("cent_id").as("cell"),
          col("best").getField("csim").as("csim"), col("embedding"), col("nrm"))
    }
  }

  /** One centroid's cosine vs a vector — the [[nearestCentroidHof]]
    * inner formula as a standalone expression (left-associated fold,
    * same arithmetic as the native kernel computes per entry). */
  private[operators] def nearestCentroidHofSim(c: Column, vec: Column, nrm: Column): Column =
    aggregate(
      zip_with(vec, c.getField("cvec"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (a, x) => a + x) / (nrm * c.getField("cnrm"))

  /** `sqrt(dotCol(v, v))` on the driver: the same left fold from 0.0 (a
    * float input widens exactly, so callers may pass it mapped). */
  private[operators] def normLocal(v: Seq[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))

  /** Exact driver-side replica of the [[nearestCentroid]] fold for one
    * query vector: same left-associated double accumulation, same strict
    * `>` improvement over the cent_id-sorted list, same `exclude` probe
    * semantics — so probe cells computed on the driver match what the
    * fold (and the DuckDB oracle) would pick, bit for bit. */
  private[operators] def nearestCentroidLocal(q: Seq[Float], qnrm: Double,
      cents: Seq[Centroid], exclude: Long = -1L): Long =
    cents.foldLeft((-1L, -2.0)) { case (acc, c) =>
      var dot = 0.0
      var i = 0
      while (i < q.length) { dot += q(i).toDouble * c.cvec(i); i += 1 }
      val csim = dot / (qnrm * c.cnrm)
      if (c.cent_id != exclude && csim > acc._2) (c.cent_id, csim) else acc
    }._1

  /** IVF-style ANN: a deterministic coarse quantizer (the first
    * `NumCentroids` vectors stand in for trained centroids — swap in
    * k-means output at scale), every vector assigned to its nearest
    * centroid (nlist=8), queries probe ONLY their own cell (nprobe=1) and
    * re-rank exactly inside it. The partition-by-cell shape is the scale
    * path: the corpus shuffles once on cell id, each probe touches
    * 1/nlist of the data. Recall loss vs brute force is inherent to
    * nprobe=1 — the oracle reproduces the same index, so results match. */
  private val annIvfTopk = QueryDef(
    (s, dir) => {
      val cos = graft.functions.VectorFunctions.cosineSimilarity _
      val emb = Tables.embeddingsSpread(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
      val cents = collectCentroids(emb.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))
      val assigned = assignCells(emb, cents)
      val queries = assigned.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("cell"),
          col("embedding").as("q"))
      val scored = broadcast(queries)
        .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", cos(col("q"), col("embedding")))
      topKPerQuery(s, scored)
    },
    Some(s"""WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
      |  WHERE vec_id < $NumCentroids),
      |assigned AS (
      |  SELECT vec_id, cell, embedding FROM (
      |    SELECT e.vec_id, c.cent_id AS cell, e.embedding,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             (${dotSql("e.embedding", "c.cvec")}) /
      |             (SQRT(${dotSql("e.embedding", "e.embedding")}) *
      |              SQRT(${dotSql("c.cvec", "c.cvec")})) DESC, c.cent_id) AS arn
      |    FROM embeddings e, cents c)
      |  WHERE arn = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, cell, embedding AS q FROM assigned
      |  WHERE vec_id < $NumQueries),
      |scored AS (
      |  SELECT qu.query_id, a.vec_id AS neighbor_id,
      |         (${dotSql("qu.q", "a.embedding")}) /
      |         (SQRT(${dotSql("qu.q", "qu.q")}) *
      |          SQRT(${dotSql("a.embedding", "a.embedding")})) AS sim
      |  FROM queries qu JOIN assigned a
      |    ON qu.cell = a.cell AND a.vec_id <> qu.query_id),
      |${topKTailSql("scored")}""".stripMargin))

  /** IVF with TRAINED centroids and multi-cell probing: `KmeansIters`
    * Lloyd iterations from the deterministic seed (first `NumCentroids`
    * vectors — r2 verdict #6 upgraded this from a single toy iteration),
    * centroid components ROUNDED to 6 decimals after EVERY iteration on
    * both engines so the trained quantizer is bit-identical despite
    * double-sum ordering differences (the repo's standard FP-determinism
    * trade — see NOTES r1), then queries probe their `NProbe` nearest
    * cells instead of 1, recovering most of nprobe=1's recall loss.
    *
    * Scale shape: the quantizer trains on a BOUNDED sample —
    * `TrainPerCentroid` vectors per centroid (the FAISS IVF training
    * convention; deterministic `vec_id < cap` so the oracle replicates
    * it) — collected ONCE and trained on the driver ([[trainIvf]]), the
    * same collect yielding the NumQueries query vectors. The full corpus
    * is touched only by the final one-pass assignment + re-rank (the
    * zero-shuffle [[nearestCentroid]] fold over a LITERAL centroid
    * array) and is never persisted or collected. */
  private[operators] val NProbe = 2
  private val KmeansIters = 3
  private val TrainPerCentroid = 256
  private val TrainCap = TrainPerCentroid * NumCentroids // 2048

  /** Spark's `round(x, 6)` on a double, as `RoundBase` evaluates it
    * (interpreted and generated): HALF_UP on `BigDecimal.valueOf` — the
    * SHORTEST round-tripping decimal, not the binary value. */
  private[operators] def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** THE Lloyd trainer for every capped (metadata-sized) k-means sample:
    * the IVF quantizer ([[trainIvf]]) and each PQ subspace
    * ([[pqTrainBooks]]). Each of `rounds` assigns every sample index to
    * a cell id (`assign(cells)`, an exact driver replica of the Spark
    * kernel), then takes Spark's `round(avg(x), 6)` per cell and dim: a
    * double sum from 0.0 in vec_id order, ÷ count, [[round6]] (the
    * rounding absorbs Spark's partition-order sums). `cells` rebuilds
    * the list from the non-empty cells' (id, mean), id-ascending. The
    * two-level reps ([[twoLevelReps]]) train over the centroid table,
    * which grows with the corpus, so they stay on Spark. */
  private[operators] def lloydLocal[C](vecs: IndexedSeq[Array[Double]], seeds: Seq[C],
      rounds: Int)(assign: Seq[C] => Int => Long)(
      cells: Seq[(Long, Seq[Double])] => Seq[C]): Seq[C] =
    (1 to rounds).foldLeft(seeds) { (cs, _) =>
      val members = vecs.indices.groupBy(assign(cs))
      cells(members.toSeq.sortBy(_._1).map { case (id, rows) =>
        id -> vecs.head.indices.map { j =>
          var sum = 0.0
          rows.foreach(r => sum += vecs(r)(j))
          round6(sum / rows.size)
        }
      })
    }

  /** The capped IVF training sample (vec_id, embedding, nrm) for
    * vec_id < [[TrainCap]], vec_id-ascending, in ONE collect. */
  private[operators] def ivfSample(emb: DataFrame): IndexedSeq[(Long, Seq[Float], Double)] =
    emb.filter(col("vec_id") < TrainCap)
      .select(col("vec_id"), col("embedding"),
        sqrt(dotCol("embedding", "embedding")))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)

  /** The IVF quantizer: the first [[NumCentroids]] sample vectors, then
    * [[KmeansIters]] [[lloydLocal]] rounds assigned by
    * [[nearestCentroidLocal]]; cells keep their ids. */
  private[operators] def trainIvf(sample: IndexedSeq[(Long, Seq[Float], Double)]): Seq[Centroid] = {
    val seeds = sample.filter(_._1 < NumCentroids)
      .map { case (id, v, n) => Centroid(id, v.map(_.toDouble), n) }
    require(seeds.nonEmpty, "no seed vectors: corpus has no vec_id < nlist")
    lloydLocal(sample.map(_._2.map(_.toDouble).toArray), seeds, KmeansIters)(
      cs => i => nearestCentroidLocal(sample(i)._2, sample(i)._3, cs))(
      _.map { case (id, cv) => Centroid(id, cv, normLocal(cv)) })
  }

  private val annIvfKmeansTopk = QueryDef(
    (s, dir) => {
      // norms precomputed ONCE per relation (IEEE-identical to inlining:
      // same ops, same order — only evaluated once instead of per pair)
      val emb = Tables.embeddingsSpread(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
      val sample = ivfSample(Tables.embeddings(s, dir))
      val trained = trainIvf(sample)
      // nprobe=2: the 2 nearest trained cells per query vector,
      // computed on the driver by the exact fold replica (the second
      // probe excludes the first's winner)
      val probeRows = sample.filter(_._1 < NumQueries)
        .flatMap { case (qid, q, qnrm) =>
          val p1 = nearestCentroidLocal(q, qnrm, trained)
          val p2 = nearestCentroidLocal(q, qnrm, trained, exclude = p1)
          Seq((qid, q, qnrm, p1), (qid, q, qnrm, p2))
        }
      import s.implicits._
      val probes = probeRows.toDF("query_id", "q", "qnrm", "cell")
      val assigned = assignCells(emb, trained)
      val scored = broadcast(probes)
        .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", dotCol("q", "embedding") / (col("qnrm") * col("nrm")))
      topKPerQuery(s, scored)
    },
    Some {
      val trainedList = (1 to Dim)
        .map(i => s"ROUND(AVG(CAST(embedding[$i] AS DOUBLE)), 6)")
        .mkString("[", ",\n      ", "]")
      def assignSql(cents: String, src: String): String =
        s"SELECT vec_id, cell, embedding, nrm FROM (\n" +
        s"    SELECT e.vec_id, c.cent_id AS cell, e.embedding, e.nrm,\n" +
        s"           row_number() OVER (PARTITION BY e.vec_id ORDER BY\n" +
        s"             (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) DESC,\n" +
        s"             c.cent_id) AS arn\n" +
        s"    FROM $src e, $cents c)\n" +
        s"  WHERE arn = 1"
      val iterCtes = (1 to KmeansIters).map { i =>
        val src = if (i == 1) "seeds" else s"t${i - 1}"
        s"a${i - 1} AS (\n  ${assignSql(src, "ts")}),\n" +
        s"t${i}m AS (\n  SELECT cell AS cent_id, $trainedList AS cvec\n" +
        s"  FROM a${i - 1} GROUP BY cell),\n" +
        s"t$i AS (\n  SELECT cent_id, cvec, SQRT(${dotSql("cvec", "cvec")}) AS cnrm\n" +
        s"  FROM t${i}m)"
      }.mkString(",\n")
      s"""WITH ${normedSql("e")},
ts AS (
  SELECT * FROM e WHERE vec_id < $TrainCap),
seeds AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM ts
  WHERE vec_id < $NumCentroids),
$iterCtes,
assigned AS (
  ${assignSql(s"t$KmeansIters", "e")}),
queries AS (
  SELECT vec_id AS query_id, embedding AS q, nrm AS qnrm FROM e
  WHERE vec_id < $NumQueries),
probes AS (
  SELECT query_id, q, qnrm, cell FROM (
    SELECT qu.query_id, qu.q, qu.qnrm, c.cent_id AS cell,
           row_number() OVER (PARTITION BY qu.query_id ORDER BY
             (${dotSql("qu.q", "c.cvec")}) / (qu.qnrm * c.cnrm) DESC,
             c.cent_id) AS prn
    FROM queries qu, t$KmeansIters c)
  WHERE prn <= $NProbe),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         (${dotSql("p.q", "a.embedding")}) / (p.qnrm * a.nrm) AS sim
  FROM probes p JOIN assigned a
    ON p.cell = a.cell AND a.vec_id <> p.query_id),
${topKTailSql("scored")}"""
    })

  // ---- int8-quantized brute-force top-k --------------------------------

  /** Per-vector symmetric int8 quantization: q_i = round(x_i · 127/max|x|),
    * spelled floor(x·s + 0.5) so both engines round identically (SQL
    * ROUND halves differ by dialect; floor(+0.5) doesn't). The scale is
    * derived from an ORDER-FREE max, the quantized dot/norms are exact
    * integer sums (no accumulation-order coupling — the property that
    * makes this path oracle-exact with plain SQL sums), and only the
    * final sim = dotq/(‖q1‖·‖q2‖) touches floating point, identically
    * in both engines.
    *
    * Why at 100 TB: int8 cuts candidate-scoring bytes 4× (1 B/dim vs 4)
    * — the corpus side of every ANN probe is memory-bandwidth-bound, so
    * the quantized pass scans a quarter of the data with integer
    * multiplies (SIMD-friendly), and the float vectors are only ever
    * touched for an optional exact re-rank of the (k-sized) winners.
    * Recall vs the float path is a measured artifact (MetricsReport). */
  private def quantized(df: DataFrame): DataFrame =
    df.withColumn("m",
        expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("qscale",
        when(col("m") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("m")))
      .withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * qscale + 0.5) as bigint))"))
      .withColumn("qn",
        sqrt(graft.functions.VectorFunctions.dotLong(col("q"), col("q"))
          .cast("double")))
      .drop("m", "qscale")

  private def quantSql(src: String): String = {
    val qExpr = "list_transform(embedding, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * qscale + 0.5) AS BIGINT))"
    s"""qscaled AS (
      |  SELECT vec_id, embedding,
      |         CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS qscale
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
      |        FROM $src)),
      |quant AS (
      |  SELECT vec_id, $qExpr AS q FROM qscaled),
      |qnormed AS (
      |  SELECT vec_id, q, SQRT(CAST(${dotSqlLong("q", "q")} AS DOUBLE)) AS qn
      |  FROM quant)""".stripMargin
  }

  private def dotSqlLong(a: String, b: String): String =
    (1 to Dim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  /** The int8 scoring stage — (query_id, neighbor_id, sim) over the
    * quantized vectors — shared by the single-stage query and the
    * re-rank pipeline so the quantization contract can't diverge. */
  private def int8Scored(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(Tables.embeddingsSpread(s, dir))
      .select(col("vec_id"), col("q"), col("qn"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("q").as("qv"), col("qn").as("vn"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn").as("qn1"))
    broadcast(queries)
      .join(corpus, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        graft.functions.VectorFunctions.dotLong(col("qq"), col("qv"))
          .cast("double") / (col("qn1") * col("vn")))
  }

  /** DuckDB twin of [[int8Scored]]: CTEs ending in
    * `scoredq(query_id, neighbor_id, sim)`. */
  private def int8ScoredSql: String =
    s"""${quantSql("embeddings")},
      |queriesq AS (
      |  SELECT vec_id AS query_id, q AS qq, qn AS qn1 FROM qnormed
      |  WHERE vec_id < $NumQueries),
      |scoredq AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |         CAST(${dotSqlLong("qq", "q")} AS DOUBLE) / (qn1 * qn) AS sim
      |  FROM queriesq, qnormed WHERE vec_id <> query_id)""".stripMargin

  private val annInt8Topk = QueryDef(
    (s, dir) => topKPerQuery(s, int8Scored(s, dir)),
    Some(s"""WITH $int8ScoredSql,
      |${topKTailSql("scoredq")}""".stripMargin))

  /** Shortlist depth of the re-rank stage: 3× the final k. */
  private val ShortK = 30

  /** The two-stage quantized pipeline: int8 scoring produces a ShortK
    * shortlist (4× cheaper scan of the corpus), then ONLY the shortlist
    * rows are re-scored with exact float cosine and re-ranked to TopK —
    * the float vectors are read for k-sized sets, never the corpus.
    * This is the production shape of quantized ANN (the `ann_int8_topk`
    * recall trade, bought back for a shortlist-sized float pass);
    * measured recall joins METRICS next to the single-stage number.
    * The final window runs over ShortK-row partitions — shortlist-sized,
    * not corpus-sized, so no reducer funnels. */
  private val annInt8RerankTopk = QueryDef(
    (s, dir) => {
      val shortlist = topKPerQuery(s, int8Scored(s, dir), ShortK)
        .select("query_id", "neighbor_id")
      exactRerankOf(Tables.embeddings(s, dir), shortlist)
    },
    Some(s"""WITH $int8ScoredSql,
      |${normedSql("fe")},
      |${exactRerankSql("scoredq", ShortK)}""".stripMargin))

  // ---- product-quantized ANN (codes + ADC) -----------------------------

  /** PQ geometry: [[Dim]] = [[PqM]] subspaces × [[PqSubDim]] dims, [[PqK]]
    * codewords per subspace. 16 codewords is the sf-scaled stand-in for
    * the production 256 (the same seeds-for-trained substitution as the
    * IVF family); at 256 a code byte-packs and a vector stores in
    * [[PqM]] bytes — 32× under the float embedding. */
  private[operators] val PqM = 8
  private[operators] val PqSubDim = Dim / PqM // 8
  private[operators] val PqK = 32
  private val PqIters = 2
  private val PqTrainCap = TrainCap // 2048

  /** PQ re-rank shortlist: 20× the final k (vs int8's 3×) — a [[PqM]]×
    * log2([[PqK]])-bit code carries far more quantization noise than
    * int8's 8 bits/dim, so the exact re-scan needs the deeper (still
    * k-scaled, corpus-independent) candidate set. The production
    * IVF-PQ recipe re-ranks 10-100× k for the same reason. */
  private[operators] val PqShortK = 200

  /** Books are pure driver-side metadata derived deterministically from
    * the dir's embeddings — ONE training per (session, dir, family)
    * serves every PQ face (the PQ queries would otherwise re-collect
    * and retrain the same sample), which is also the production reality: books
    * train once, queries reuse them. `residual = false` trains on the
    * normalized vectors `nx`; `residual = true` runs the identical Lloyd
    * arithmetic over the residuals `rx` ([[pqResidualFrame]]). Memoized
    * through [[FixtureStore.perSession]]. */
  private def pqBooksFor(s: SparkSession, dir: String, residual: Boolean): Seq[Seq[SubCentroid]] =
    FixtureStore.perSession(s, ("pq_books", dir, residual))(pqTrainBooks(
      if (residual) pqResidualFrame(s, dir)._1.select(col("vec_id"), col("rx").as("nx"))
      else pqNormalized(s, dir)))

  /** One subspace codeword. Field names are what the encode fold reads. */
  private[operators] case class SubCentroid(code: Int, cvec: Seq[Double])

  /** argmin_code ‖sub − cvec‖² as the original HOF fold — the executable
    * spec `SeededQuantizerFaceSuite` pins the NATIVE kernel
    * ([[graft.functions.NearestCode]]) and its driver replica
    * [[nearestCodeLocal]] against: strict `<` improvement over the
    * code-ascending list ⇒ ties keep the LOWEST code, exactly the
    * oracle's `ORDER BY dist, code` row_number; the sub-distance is the
    * left-assoc 8-term fold from 0.0 ≡ the twin's explicit sum. */
  private[operators] def nearestCodeHofIn(cbs: Column, sub: Column): Column =
    aggregate(
      cbs,
      struct(lit(-1).as("code"), lit(Double.MaxValue).as("dist")),
      (acc, c) => {
        val d = aggregate(
          zip_with(sub, c.getField("cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
        when(d < acc.getField("dist"),
          struct(c.getField("code").as("code"), d.as("dist"))).otherwise(acc)
      }).getField("code")

  /** Exact driver replica of [[graft.functions.NearestCode]]: left-assoc
    * squared-L2 from 0.0, strict `<` under Spark's NaN-safe order (the
    * lowest code wins a tie), other-length codewords skipped, else -1. */
  private[operators] def nearestCodeLocal(sub: Array[Double], book: Seq[SubCentroid]): Int =
    book.foldLeft((-1, Double.MaxValue)) { case (acc, c) =>
      if (c.cvec.length != sub.length) acc
      else {
        var d = 0.0
        var i = 0
        while (i < sub.length) { val x = sub(i) - c.cvec(i); d += x * x; i += 1 }
        if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(d, acc._2) < 0) (c.code, d) else acc
      }
    }._1


  /** Product-quantized corpus + ADC scoring (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): vectors are L2-normalized
    * (so inner product IS cosine), each [[PqSubDim]]-dim subspace is
    * vector-quantized against its own [[PqK]]-codeword book, and a vector
    * stores as [[PqM]] small codes. A query scores a candidate by the
    * inner product with the candidate's RECONSTRUCTION (codewords
    * concatenated in subspace order) — asymmetric distance computation,
    * exact given the codes, which is what makes it oracle-expressible.
    *
    * Why at 100 TB: the stored corpus shrinks from Dim floats to PqM
    * code bytes (32× at K=256) — the scan that dominates every ANN probe
    * reads codes, and the decode happens in the scan's projection
    * (transient, codegen'd), never materialized back to storage. The
    * production refinement (per-query K×M lookup tables instead of
    * decode-then-dot) changes constant factors, not bytes read or the
    * result; recall is bought back the same way as int8 — an exact
    * re-rank over the k-sized shortlist ([[annPqRerankTopk]]).
    *
    * Determinism: normalization and sub-distances are IEEE doubles with
    * identical association in both engines; tie-breaks are strict-< over
    * code-ascending; the final dot is ONE flat 64-term left-assoc fold
    * over the reconstruction ≡ the twin's explicit 64-term sum (never a
    * per-subspace partial sum — a different association from the twin's
    * flat one). Codebooks seed from the normalized first [[PqK]] vectors
    * then take [[PqIters]] per-subspace Lloyd iterations (ROUND(AVG,6)
    * means — the kmeans-query determinism precedent), trained on the
    * driver by [[lloydLocal]] over one collected sample, with the
    * [[nearestCodeLocal]] replica of the encode kernel assigning. */
  /** (vec_id, embedding, nrm, nx) — the normalized frame every PQ face
    * starts from. */
  private[operators] def pqNormalizedOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
      .withColumn("nx", expr("transform(embedding, x -> cast(x as double) / nrm)"))

  private[operators] def pqNormalized(s: SparkSession, dir: String): DataFrame =
    pqNormalizedOf(Tables.embeddingsSpread(s, dir))

  private[operators] def pqTrainBooks(emb: DataFrame): Seq[Seq[SubCentroid]] = {
    // ONE collect of the capped head (metadata); seeds = its first PqK
    val sample = emb.filter(col("vec_id") < PqTrainCap)
      .select(col("vec_id"), col("nx")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).toIndexedSeq
    require(sample.take(PqK).map(_._1).sameElements(0L until PqK),
      s"PQ seeds must be vec_id 0..${PqK - 1} (positional decode)")
    // Codes renumber contiguously after each update, relative order
    // kept: tie-breaks pick the same VECTOR as the twin's original-id
    // ordering, and the positional decode stays valid.
    (0 until PqM).map { m =>
      val subs = sample.map(_._2.slice(m * PqSubDim, (m + 1) * PqSubDim))
      val seeds = subs.take(PqK).zipWithIndex
        .map { case (sub, i) => SubCentroid(i, sub.toSeq) }
      lloydLocal(subs, seeds, PqIters)(
        book => i => nearestCodeLocal(subs(i), book).toLong)(
        _.zipWithIndex.map { case ((_, cv), i) => SubCentroid(i, cv) })
    }
  }

  /** Adds a `recon` column — the PQ reconstruction of `nx` — via the
    * PqM narrow argmin kernels (zero shuffle) and a codeword lookup in
    * the projection (flat concat in subspace order).
    *
    * The M per-subspace assignments run as ONE `transform` over the
    * subspace index calling the native [[graft.functions.NearestCode]]
    * kernel per element — NOT as M unrolled codegen'd call sites.
    * Measured (r18, sf0.1 = 2k vectors): unrolled call sites made the
    * projection whole-stage-codegen-able and the per-run janino compile
    * of the resulting method dominated the query (+0.6-0.9 s per run —
    * fresh expression ids defeat the codegen cache, so EVERY run pays
    * it), while the data work is milliseconds at this corpus. The HOF
    * form keeps the projection off janino entirely and the interpreted
    * path evaluates the SAME tight kernel loop per subspace — the
    * arithmetic is identical at every scale, and at 100 TB the
    * per-element lambda dispatch (M=8 per row) is noise against the
    * K×subdim native loop inside each call. */
  private[operators] def pqWithRecon(df: DataFrame, books: Seq[Seq[SubCentroid]]): DataFrame = {
    val booksVecs: Seq[Seq[Seq[Double]]] = books.map(_.map(_.cvec))
    val booksLit = typedLit(books.map(_.toIndexedSeq).toIndexedSeq)
    val encoded = df.withColumn("codes",
      transform(sequence(lit(0), lit(PqM - 1)), m =>
        graft.functions.VectorFunctions.nearestCode(
          element_at(booksLit, m + 1),
          slice(col("nx"), m * PqSubDim + 1, lit(PqSubDim)))))
    encoded.withColumn("recon", concat((0 until PqM).map(m =>
      element_at(typedLit(booksVecs(m)), element_at(col("codes"), m + 1) + 1)): _*))
  }

  private def pqScored(s: SparkSession, dir: String): DataFrame = {
    val emb = pqNormalized(s, dir)
    val books = pqBooksFor(s, dir, residual = false)
    val corpus = pqWithRecon(emb, books)
      .select(col("vec_id").as("neighbor_id"), col("recon"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("nx").as("qx"))
    broadcast(queries)
      .join(corpus, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dotCol("qx", "recon"))
  }

  /** DuckDB twin of normalize→train→encode→decode: CTEs ending in
    * `precon(vec_id, recon)` (plus `ne(vec_id, nx)` for query vectors).
    * The reconstruction is rebuilt by joining each vector's PqM codes
    * back to the codebook relation and concatenating in subspace order
    * (order-pinned list agg). */
  /** Generic explode→seed→Lloyd→encode→decode CTE chain for ONE codebook
    * family: `src` must provide (vec_id, `$vecCol` LIST of [[Dim]]
    * doubles); emits the exp/tr/cb0..cbN/codes CTE family under the given
    * prefix, ending in `${pfx}recon(vec_id, recon)`. The raw-vector family uses pfx "p"
    * (names unchanged from the original inline form); the residual
    * family reuses the identical training arithmetic under pfx "r". */
  private def pqCodebookSqlCtes(pfx: String, src: String, vecCol: String): String = {
    val subDist = (1 to PqSubDim)
      .map(j => s"(p.sub[$j] - c.cvec[$j]) * (p.sub[$j] - c.cvec[$j])")
      .mkString(" + ")
    val meanList = (1 to PqSubDim)
      .map(j => s"ROUND(AVG(sub[$j]), 6)").mkString("[", ", ", "]")
    def assignSql(from: String, cents: String): String =
      s"""SELECT vec_id, m, sub, code FROM (
        |    SELECT p.vec_id, p.m, p.sub, c.code,
        |           row_number() OVER (PARTITION BY p.vec_id, p.m ORDER BY
        |             ($subDist), c.code) AS prn
        |    FROM $from p JOIN $cents c ON p.m = c.m)
        |  WHERE prn = 1""".stripMargin
    // Every CTE is AS MATERIALIZED: DuckDB INLINES a plain CTE at each
    // reference, so this train→assign chain (exp referenced 3×, each cb
    // by the next iteration) re-expands multiplicatively through the
    // Lloyd iterations — the r9 driver's allocator died planning exactly
    // that. Materialized, each step computes once into a ≤(N×PqM)-row
    // temp (bounded: the corpus here is the embeddings table) and memory
    // is flat in PqIters.
    val iterCtes = (1 to PqIters).map { i =>
      val cents = if (i == 1) s"${pfx}cb0" else s"${pfx}cb${i - 1}"
      s"${pfx}a${i - 1} AS MATERIALIZED (\n  ${assignSql(s"${pfx}tr", cents)}),\n" +
        s"${pfx}cb$i AS MATERIALIZED (\n  SELECT m, code, $meanList AS cvec\n" +
        s"  FROM ${pfx}a${i - 1} GROUP BY m, code)"
    }.mkString(",\n")
    s"""${pfx}exp AS MATERIALIZED (
      |  SELECT vec_id, m,
      |         list_slice($vecCol, m * $PqSubDim + 1, m * $PqSubDim + $PqSubDim) AS sub
      |  FROM $src, range(0, $PqM) AS t(m)),
      |${pfx}tr AS MATERIALIZED (SELECT * FROM ${pfx}exp WHERE vec_id < $PqTrainCap),
      |${pfx}cb0 AS MATERIALIZED (
      |  SELECT m, CAST(vec_id AS INT) AS code, sub AS cvec
      |  FROM ${pfx}exp WHERE vec_id < $PqK),
      |$iterCtes,
      |${pfx}codes AS MATERIALIZED (
      |  ${assignSql(s"${pfx}exp", s"${pfx}cb$PqIters")}),
      |${pfx}recon AS MATERIALIZED (
      |  SELECT p.vec_id, flatten(list(c.cvec ORDER BY p.m)) AS recon
      |  FROM ${pfx}codes p JOIN ${pfx}cb$PqIters c ON p.m = c.m AND p.code = c.code
      |  GROUP BY p.vec_id)""".stripMargin
  }

  private def pqReconSqlCtes: String =
    s"""ne AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
      |           SQRT(${dotSql("embedding", "embedding")})) AS nx
      |  FROM embeddings),
      |${pqCodebookSqlCtes("p", "ne", "nx")}""".stripMargin

  /** CTEs ending in `scoredp(query_id, neighbor_id, sim)` — the
    * brute-force ADC scoring face over [[pqReconSqlCtes]]. */
  private def pqScoredSql: String =
    s"""$pqReconSqlCtes,
      |pq AS (
      |  SELECT vec_id AS query_id, nx AS qx FROM ne
      |  WHERE vec_id < $NumQueries),
      |scoredp AS (
      |  SELECT query_id, r.vec_id AS neighbor_id,
      |         (${dotSql("qx", "recon")}) AS sim
      |  FROM pq, precon r WHERE r.vec_id <> query_id)""".stripMargin

  private val annPqTopk = QueryDef(
    (s, dir) => topKPerQuery(s, pqScored(s, dir)),
    Some(s"""WITH ${pqScoredSql},
      |${topKTailSql("scoredp")}""".stripMargin))

  /** PQ shortlist + exact float re-rank — the [[annInt8RerankTopk]]
    * production shape over the 32×-compressed codes: the corpus is
    * scanned as codes, only the [[PqShortK]] winners per query are
    * re-scored with exact float cosine. */
  private val annPqRerankTopk = QueryDef(
    (s, dir) => {
      val shortlist = topKPerQuery(s, pqScored(s, dir), PqShortK)
        .select("query_id", "neighbor_id")
      exactRerankOf(Tables.embeddings(s, dir), shortlist)
    },
    Some(s"""WITH ${pqScoredSql},
      |${normedSql("fe")},
      |${exactRerankSql("scoredp", PqShortK)}""".stripMargin))

  /** IVF-PQ — the production 100 TB ANN composition (the FAISS
    * IndexIVFPQ shape), assembled from the two verified pieces: the
    * seeded coarse quantizer prunes the corpus to nprobe=2 of
    * [[NumCentroids]] cells, the surviving cells scan as PQ CODES with
    * ADC scoring, and the [[PqShortK]] shortlist re-ranks with exact
    * float cosine. Bytes touched per probe: (2/nlist of the corpus) ×
    * (codes, not floats) + k-sized float reads — each stage contributes
    * its own verified reduction. Simplification vs FAISS: codes quantize
    * the vectors themselves, not per-cell residuals — residual encoding
    * tightens recall at equal bits but needs per-cell books; the plan
    * shape (and the oracle) is identical. Probes are computed on the
    * driver by the exact fold replica ([[nearestCentroidLocal]], the
    * kmeans-query pattern ≡ the twin's `ORDER BY csim DESC, cent_id`
    * window). */
  /** The nprobe=2 probe frame of both IVF-PQ faces, computed on the
    * driver from the normalized frame `emb` ([[pqNormalizedOf]]): per
    * query vector, its two nearest seeded `cents` by the exact fold
    * replica ([[nearestCentroidLocal]], the second probe excluding the
    * first's winner) ≡ the twin's `iprobes` window ([[ivfCellsSql]]).
    * Rows (query_id, qx, cell). */
  private def twoCellProbes(s: SparkSession, emb: DataFrame, cents: Seq[Centroid]): DataFrame = {
    val qhead = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("nx"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2),
        r.getSeq[Double](3)))
      .sortBy(_._1)
    val probeRows = qhead.flatMap { case (qid, q, qnrm, qx) =>
      val p1 = nearestCentroidLocal(q, qnrm, cents)
      val p2 = nearestCentroidLocal(q, qnrm, cents, exclude = p1)
      Seq((qid, qx, p1), (qid, qx, p2))
    }
    import s.implicits._
    probeRows.toDF("query_id", "qx", "cell")
  }

  /** DuckDB twin of the seeded coarse quantizer both IVF-PQ faces probe,
    * over the normed CTE `fe` ([[normedSql]]): `icents` (the first
    * [[NumCentroids]] vectors), `iassigned(vec_id, cell)` and
    * `iprobes(query_id, cell)`, the two nearest cells per query
    * ([[twoCellProbes]]). `materialized` marks icents and iassigned. */
  private def ivfCellsSql(materialized: Boolean): String = {
    val mat = if (materialized) " MATERIALIZED" else ""
    s"""icents AS$mat (
      |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM fe
      |  WHERE vec_id < $NumCentroids),
      |iassigned AS$mat (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cent_id AS cell,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) DESC,
      |             c.cent_id) AS arn
      |    FROM fe e, icents c)
      |  WHERE arn = 1),
      |iprobes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT e.vec_id AS query_id, c.cent_id AS cell,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) DESC,
      |             c.cent_id) AS prn
      |    FROM fe e, icents c WHERE e.vec_id < $NumQueries)
      |  WHERE prn <= 2)""".stripMargin
  }

  private val annIvfPqTopk = QueryDef(
    (s, dir) => {
      val emb = pqNormalized(s, dir)
      val books = pqBooksFor(s, dir, residual = false)
      val cents = collectCentroids(emb.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))
      // corpus: cell assignment (zero-shuffle literal fold) + PQ codes;
      // nx is RECOMPUTED narrowly after assignment (same expression on
      // the same embedding/nrm doubles ⇒ identical values) — joining the
      // normalized frame back by vec_id would be a corpus self-join
      val corpus = pqWithRecon(
          assignCells(emb.select("vec_id", "embedding", "nrm"), cents)
            .withColumn("nx",
              expr("transform(embedding, x -> cast(x as double) / nrm)")),
          books)
        .select(col("vec_id").as("neighbor_id"), col("cell"), col("recon"))
      val shortlist = topKPerQuery(s,
        broadcast(twoCellProbes(s, emb, cents))
          .join(corpus, Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("sim", dotCol("qx", "recon")),
        PqShortK)
        .select("query_id", "neighbor_id")
      exactRerankOf(Tables.embeddings(s, dir), shortlist)
    },
    Some(s"""WITH $pqReconSqlCtes,
      |${normedSql("fe")},
      |${ivfCellsSql(materialized = false)},
      |iscored AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |         (${dotSql("q.nx", "r.recon")}) AS sim
      |  FROM iprobes p
      |  JOIN iassigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
      |  JOIN precon r ON r.vec_id = a.vec_id
      |  JOIN ne q ON q.vec_id = p.query_id),
      |${exactRerankSql("iscored", PqShortK)}""".stripMargin))

  // ---- residual-coded IVF-PQ -------------------------------------------

  /** Unit-norm centroid vectors (cvec/cnrm) positionally indexed by
    * cent_id — the seeded cells are vec_id 0..[[NumCentroids]]-1, so
    * `element_at(lit, cell+1)` is the cell's normalized centroid. */
  private[operators] def normalizedCentroids(cents: Seq[Centroid]): Seq[Seq[Double]] = {
    require(cents.map(_.cent_id) == (0L until NumCentroids),
      "seeded centroids must be cent_id 0..nlist-1 (positional lookup)")
    cents.map(c => c.cvec.map(_ / c.cnrm))
  }

  /** The corpus assigned to its seeded cell, carrying the cell's
    * unit-norm centroid `ncv` and the residual `rx = nx − ncv` — all
    * narrow (literal-centroid fold + projection arithmetic, zero
    * shuffle). Every residual-PQ face starts here. */
  private[operators] def pqResidualFrameOf(emb0: DataFrame): (DataFrame, Seq[Centroid]) = {
    val emb = pqNormalizedOf(emb0)
    val cents = collectCentroids(emb.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm")))
    val ncentsLit = typedLit(
      normalizedCentroids(cents).map(_.toIndexedSeq).toIndexedSeq)
    val frame = assignCells(emb.select("vec_id", "embedding", "nrm"), cents)
      .withColumn("nx", expr("transform(embedding, x -> cast(x as double) / nrm)"))
      .withColumn("ncv", element_at(ncentsLit, col("cell").cast("int") + 1))
      .withColumn("rx", zip_with(col("nx"), col("ncv"), (x, y) => x - y))
    (frame, cents)
  }

  private[operators] def pqResidualFrame(s: SparkSession, dir: String): (DataFrame, Seq[Centroid]) =
    pqResidualFrameOf(Tables.embeddingsSpread(s, dir))

  /** IVF-PQ over RESIDUALS — the full FAISS IndexIVFPQ recipe (Jégou et
    * al. 2011 §IV): codes quantize `nx − ĉ_cell` (the vector minus its
    * unit-norm coarse centroid) with ONE shared residual book, closing
    * the documented simplification in [[annIvfPqTopk]] (which codes the
    * vectors themselves). Residuals concentrate near the origin with far
    * less of the corpus's global structure, so the same bit budget spends
    * itself on the part of the vector the coarse quantizer did NOT
    * explain — tighter ADC scores at identical plan shape and bytes.
    * ADC: sim = qx · (ĉ_cell + recon_residual), the reconstruction
    * rebuilt element-wise in the scan projection; probes, shortlist and
    * the exact re-rank tail are the verified [[annIvfPqTopk]] pieces.
    * Recall measured against brute force in METRICS next to the
    * raw-vector composition. */
  private val annIvfPqResidualTopk = QueryDef(
    (s, dir) => {
      val (resFrame, cents) = pqResidualFrame(s, dir)
      val books = pqBooksFor(s, dir, residual = true)
      val corpus = pqWithRecon(resFrame.withColumn("nx", col("rx")), books)
        .withColumn("fullrecon", zip_with(col("ncv"), col("recon"), (a, b) => a + b))
        .select(col("vec_id").as("neighbor_id"), col("cell"), col("fullrecon"))
      val shortlist = topKPerQuery(s,
        broadcast(twoCellProbes(s, pqNormalized(s, dir), cents))
          .join(corpus, Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("sim", dotCol("qx", "fullrecon")),
        PqShortK)
        .select("query_id", "neighbor_id")
      exactRerankOf(Tables.embeddings(s, dir), shortlist)
    },
    // MATERIALIZED throughout: ne/fe/icents/rxc are each referenced from
    // several downstream CTEs — inlined (DuckDB's default) the whole
    // residual+codebook chain re-expands per reference and the planner's
    // memory grows multiplicatively (the r9 driver OOM); materialized,
    // every step is a small computed-once temp.
    Some(s"""WITH ne AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE) /
      |           SQRT(${dotSql("embedding", "embedding")})) AS nx
      |  FROM embeddings),
      |${normedSql("fe", materialized = true)},
      |${ivfCellsSql(materialized = true)},
      |rxc AS MATERIALIZED (
      |  SELECT a.vec_id, a.cell,
      |         list_transform(range(1, ${Dim + 1}),
      |           i -> q.nx[i] - CAST(c.cvec[i] AS DOUBLE) / c.cnrm) AS rx,
      |         list_transform(range(1, ${Dim + 1}),
      |           i -> CAST(c.cvec[i] AS DOUBLE) / c.cnrm) AS ncv
      |  FROM iassigned a
      |  JOIN ne q ON q.vec_id = a.vec_id
      |  JOIN icents c ON a.cell = c.cent_id),
      |${pqCodebookSqlCtes("r", "rxc", "rx")},
      |rfull AS MATERIALIZED (
      |  SELECT rr.vec_id, x.cell,
      |         list_transform(range(1, ${Dim + 1}),
      |           i -> x.ncv[i] + rr.recon[i]) AS recon
      |  FROM rrecon rr JOIN rxc x ON x.vec_id = rr.vec_id),
      |iscored AS (
      |  SELECT p.query_id, r.vec_id AS neighbor_id,
      |         (${dotSql("q.nx", "r.recon")}) AS sim
      |  FROM iprobes p
      |  JOIN rfull r ON r.cell = p.cell AND r.vec_id <> p.query_id
      |  JOIN ne q ON q.vec_id = p.query_id),
      |${exactRerankSql("iscored", PqShortK)}""".stripMargin))

  // ---- semantic dedup (cluster-then-prune) -----------------------------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with the deterministic seeded coarse quantizer
    * (the same [[nearestCentroid]] fold as the IVF family), then within
    * each cell drop every vector that has a MORE CENTRAL semantic
    * duplicate — a same-cell neighbor at cosine ≥ the threshold whose
    * centroid-similarity is higher (tie: the lower vec_id survives). The
    * paper picks a random member per duplicate group; keeping the most
    * central one is its deterministic variant (the member most typical of
    * its cluster), which both engines can reproduce exactly. Output: the
    * surviving rows with their cell assignment.
    *
    * Contract note: pairs are compared WITHIN a cell only — that is the
    * SemDeDup semantics (and what bounds the cost), not an approximation
    * of an all-pairs sweep. Cross-cell duplicates are the banded
    * [[dedupEmbeddingCosine]] family's job.
    *
    * Scale shape: nlist grows with the corpus ([[adaptiveNlist]] —
    * linear in N at ~250 rows/cell, floored at the seeded 8 the small-SF
    * oracles resolve to), so cell population — and with it the
    * within-cell candidate mass — stays bounded independent of N. The assignment is the zero-shuffle
    * literal-centroid fold; only (vec_id, cell, csim) rides the cell
    * exchange (embeddings re-fetched per candidate side via shuffle-hash
    * joins, the [[embeddingCosinePairs]] shape); a boilerplate-hot cell
    * is triangle-salted by [[SkewGuard]] instead of landing one quadratic
    * task. The kept-set anti-join shuffles ids only. */
  /** Seeded coarse-quantizer assignment of the whole corpus —
    * (vec_id, cell, csim, embedding, nrm) — shared by the semantic-dedup
    * and centroid-tails queries so the quantizer contract can't diverge. */
  private[operators] def seededAssignedOf(
      emb0: DataFrame, precount: Option[Long] = None): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
    // nlist ∝ N (see adaptiveNlist): callers with a (session, dir) pass
    // the memoized corpus count ([[embeddingsCountFor]]) so constructing
    // a cell-family query never pays a fresh count action (the r16
    // regression: plan dumps and ScaleReport's output_rows re-build each
    // ran one extra full-corpus count)
    val nlist = adaptiveNlist(precount.getOrElse(emb.count()))
    if (nlist <= LiteralCentroidMax) {
      val cents = collectCentroids(emb.filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
          col("nrm").as("cnrm")))
      assignCellsWithSim(emb, cents)
    } else assignCellsWithSimBcast(emb, seededCentsDf(emb, nlist))
    // NOT a third face: two-level coarse assignment was built as the
    // r17-flagged asymptotic fix ([[assignCellsWithSimTwoLevel]]),
    // measured 42× faster than flat at 4.16M vectors — and REJECTED as
    // the default by measurement: 16% cell agreement / 38% dropped-set
    // recall vs the exact flat quantizer on this near-isotropic
    // embedding family (docs/PLANS_r18.md §6). Exact-flat through the
    // native kernel is affordable to ~5M vectors; past that, prefer
    // provisioning or an EXPLICIT approximate-face opt-in, never a
    // silent contract change.
  }

  /** Corpus row count, ONE action per (session, dir, corpus mtime)
    * ([[FixtureStore.perSession]]) — [[adaptiveNlist]] sizing is
    * metadata, and every cell-family construction over the same corpus
    * reuses it. The key carries the embeddings directory's mtime: a
    * corpus REWRITTEN within a session (parquet overwrite touches the
    * directory) keys a fresh count, so the band-ladder rung and the
    * DuckDB twin (which recomputes count(*) at query time)
    * re-parameterize from the same corpus instead of diverging on a
    * stale memo. One File.lastModified stat per lookup —
    * metadata-priced, same as the sizing count it guards. */
  private[graft] def embeddingsCountFor(s: SparkSession, dir: String): Long = {
    val snap = new java.io.File(s"$dir/embeddings.parquet").lastModified()
    FixtureStore.perSession(s, ("embeddings_count", dir, snap))(
      Tables.embeddings(s, dir).count())
  }

  private def seededAssigned(s: SparkSession, dir: String): DataFrame =
    seededAssignedOf(Tables.embeddingsSpread(s, dir),
      Some(embeddingsCountFor(s, dir)))

  /** PUBLIC face of the seeded coarse-quantizer assignment — (vec_id,
    * cell, csim, embedding, nrm) for an embeddings frame. The library
    * API a pipeline uses to bucket its own vectors (and what the xcap
    * drive scripts probe for the face/kernel plan markers): picks the
    * literal or broadcast quantizer face by [[adaptiveNlist]] exactly as
    * every internal consumer does. `precount` skips the sizing count
    * when the caller already knows the corpus size. */
  def quantizerAssignment(emb: DataFrame, precount: Option[Long] = None): DataFrame =
    seededAssignedOf(emb, precount)

  /** DuckDB twin of [[seededAssigned]]: CTEs ending in
    * `assigned(vec_id, cell, csim, embedding, nrm)`. The centroid count
    * is the SQL [[adaptiveNlistSql]] twin of [[adaptiveNlist]] — same
    * `count(*)`-derived value on both engines. */
  private def seededAssignSql: String =
    s"""${normedSql("e")},
      |cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e
      |  WHERE vec_id < $adaptiveNlistSql),
      |assigned AS (
      |  SELECT vec_id, cell, csim, embedding, nrm FROM (
      |    SELECT e.vec_id, c.cent_id AS cell,
      |           (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) AS csim,
      |           e.embedding, e.nrm,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) DESC,
      |             c.cent_id) AS arn
      |    FROM e, cents c)
      |  WHERE arn = 1)""".stripMargin

  /** The ids SemDeDup prunes from `emb` — the LESS CENTRAL member of
    * every verified within-cell near-dup pair (csim tie drops the higher
    * id, since SkewGuard's pairs are id-ordered). One column `vec_id`,
    * distinct. Shared by `dedup_semantic` and the curation pipeline's
    * semantic stage so the prune rule can't desync. */
  private[operators] def semanticDropped(
      emb0: DataFrame, precount: Option[Long] = None): DataFrame =
    semanticDropped(emb0,
      seededAssignedOf(emb0, precount).localCheckpoint(false), precount)

  /** As above with a precomputed [[seededAssignedOf]] frame, so a caller
    * that also consumes the assignment pays the centroid collect once.
    * Every corpus read here goes through `assigned` (which carries the
    * embeddings) — a caller that materializes it ([[dedupSemantic]]'s
    * localCheckpoint) makes the assignment fold run exactly once. The
    * verify fetch takes the SIZED face (r19, [[verifyFetchSide]]):
    * candidates here are cell-bounded (N·occupancy/2 — linear by
    * [[adaptiveNlist]]), but each still carried raw float embeddings
    * through two exchanges (~192 B/candidate); below
    * the [[FetchBroadcastMaxBytes]] budget the assignment frame's (vec_id,
    * embedding) projection broadcasts instead. `precount` skips the
    * sizing count when the caller already knows the corpus size. */
  private[operators] def semanticDropped(emb0: DataFrame, assigned: DataFrame): DataFrame =
    semanticDropped(emb0, assigned, None)

  private[operators] def semanticDropped(emb0: DataFrame, assigned: DataFrame,
      precount: Option[Long]): DataFrame = {
    val emb = assigned.select(col("vec_id"), col("embedding"))
    val n = precount.getOrElse(assigned.count())
    val cells = assigned
      .select(col("vec_id"), col("csim"), col("cell").as("band"))
      .repartition(col("band"))
    // vec_id_1 < vec_id_2 by SkewGuard's contract, csim riding along
    // (through the int8 screen too — it preserves candidate columns)
    val verified = int8Screen(emb, n, SkewGuard.pairs(cells, "vec_id"),
        "vec_id_1", "vec_id_2")
      .join(verifyFetchSide(emb, n, "vec_id_1", "e1"), "vec_id_1")
      .join(verifyFetchSide(emb, n, "vec_id_2", "e2"), "vec_id_2")
      .filter(graft.functions.VectorFunctions.cosineSimilarity(
        col("e1"), col("e2")) >= NearDupThreshold)
    verified.select(
      when(col("csim_1") >= col("csim_2"), col("vec_id_2"))
        .otherwise(col("vec_id_1")).as("vec_id")).distinct()
  }

  /** DuckDB twin of [[semanticDropped]]: CTEs (incl. [[seededAssignSql]]'s
    * `e`/`cents`/`assigned`) ending in `dropped(vec_id)`. */
  private[operators] def semanticDroppedSqlCtes: String =
    s"""$seededAssignSql,
      |dropped AS (
      |  SELECT DISTINCT CASE WHEN a.csim >= b.csim THEN b.vec_id
      |                       ELSE a.vec_id END AS vec_id
      |  FROM assigned a JOIN assigned b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE (${dotSql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm)
      |        >= $NearDupThreshold)""".stripMargin

  private val dedupSemantic = QueryDef(
    (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
      // materialize the assignment ONCE (the containmentFrames/
      // graph_triangles localCheckpoint precedent): the anti-join left,
      // SkewGuard's occupancy pass, and both verify-join fetches all
      // consume it — without the boundary each recomputed the full
      // N×nlist fold (the 1.04M-vector drive measured 4 assignment-sized
      // stages ≈ 85% of task time, docs/PLANS_r18.md §4)
      val assigned = seededAssignedOf(emb,
        Some(embeddingsCountFor(s, dir))).localCheckpoint(false)
      assigned
        .join(semanticDropped(emb, assigned,
          Some(embeddingsCountFor(s, dir))), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    },
    Some(s"""WITH $semanticDroppedSqlCtes
      |SELECT a.vec_id, a.cell FROM assigned a
      |WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
      |ORDER BY vec_id""".stripMargin))

  // ---- centroid-similarity tails (pruning candidates) ------------------

  /** Per-cell centroid-similarity TAILS — the two data-pruning recipes
    * that complement [[dedupSemantic]] (the D4 combination, Tirumala et
    * al. 2023, arXiv:2308.12284): the `outlier` tail (rows farthest from
    * their cell centroid — noise/junk candidates for cleaning) and the
    * `prototype` tail (rows closest to it — the over-represented "too
    * easy" mass SSL-prototype pruning drops, Sorscher et al. 2022). Each
    * tail is the set of fixed-point similarity SLOTS that fit entirely
    * within the lowest/highest decile of the row's cell.
    *
    * Scale shape: the corpus NEVER shuffles. Assignment is the
    * zero-shuffle literal-centroid fold; the slot is per-row arithmetic
    * (floor(csim·500), order-free); the per-(cell, slot) histogram is ONE
    * map-side-combined groupBy bounded by nlist × 1001 slots regardless
    * of corpus size; the decile-cutoff windows run over that metadata;
    * and the tail table joins back as a broadcast. This is the
    * [[graft.operators.Sampling]] histogram-cutoff pattern applied to the
    * embedding domain. */
  private val embeddingOutliers = QueryDef(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the histogram pass and the tail join-back both consume the
      // slotted assignment — one lazy materialization, one fold
      // (the dedupSemantic r18 precedent)
      val slotted = seededAssigned(s, dir)
        .select(col("vec_id"), col("cell"), col("csim"),
          (floor(col("csim") * 500).cast("long") + 500L).as("slot"))
        .localCheckpoint(false)
      val hist = slotted.groupBy("cell", "slot").agg(count(lit(1)).as("n"))
      val cum = hist
        .withColumn("cum_lo",
          sum("n").over(Window.partitionBy("cell").orderBy(col("slot"))))
        .withColumn("cum_hi",
          sum("n").over(Window.partitionBy("cell").orderBy(col("slot").desc)))
        .withColumn("cn", sum("n").over(Window.partitionBy("cell")))
      val tails = cum.filter(col("cum_lo") <= expr("cn div 10"))
          .select(col("cell"), col("slot"), lit("outlier").as("tail"))
        .unionAll(cum.filter(col("cum_hi") <= expr("cn div 10"))
          .select(col("cell"), col("slot"), lit("prototype").as("tail")))
      slotted.join(broadcast(tails), Seq("cell", "slot"))
        .select(col("vec_id"), col("cell"), col("tail"),
          round(col("csim"), 4).as("csim"))
        .orderBy("vec_id", "tail")
    },
    Some(s"""WITH $seededAssignSql,
      |slotted AS (
      |  SELECT vec_id, cell, csim,
      |         CAST(floor(csim * 500) AS BIGINT) + 500 AS slot
      |  FROM assigned),
      |hist AS (
      |  SELECT cell, slot, count(*) AS n FROM slotted GROUP BY cell, slot),
      |cum AS (
      |  SELECT cell, slot, n,
      |         SUM(n) OVER (PARTITION BY cell ORDER BY slot) AS cum_lo,
      |         SUM(n) OVER (PARTITION BY cell ORDER BY slot DESC) AS cum_hi,
      |         SUM(n) OVER (PARTITION BY cell) AS cn
      |  FROM hist),
      |tails AS (
      |  SELECT cell, slot, 'outlier' AS tail FROM cum WHERE cum_lo <= cn // 10
      |  UNION ALL
      |  SELECT cell, slot, 'prototype' AS tail FROM cum WHERE cum_hi <= cn // 10)
      |SELECT s.vec_id, s.cell, t.tail, ROUND(s.csim, 4) AS csim
      |FROM slotted s JOIN tails t ON s.cell = t.cell AND s.slot = t.slot
      |ORDER BY vec_id, tail""".stripMargin))

  // ---- k-NN graph -----------------------------------------------------

  private[operators] val KnnK = 5

  /** k-NN GRAPH over the corpus — every vector's [[KnnK]] nearest
    * same-cell neighbors, the input relation for graph-based curation
    * (SemDeDup-style cluster pruning, graph dedup, label propagation
    * over [[ConnectedComponents]]). Unlike the `ann_*_topk` family (5
    * probe queries), this ranks neighbors for EVERY node.
    *
    * Cell-bucketed by the seeded coarse quantizer ([[seededAssignedOf]]
    * — the shared quantizer contract), so candidate mass per node is its
    * cell population: nlist ∝ N ([[adaptiveNlist]]) bounds it at scale
    * (the SemDeDup stance), and cross-cell edges are the banded
    * family's job.
    *
    * Shape at 100 TB: ONE cell-partitioned exchange read by both join
    * sides (ReusedExchange), hot cells triangle-salted by [[SkewGuard]]
    * — the guard emits each unordered pair once, and since the flat
    * cosine fold is symmetric term-for-term (ascending-index
    * accumulation of commutative products), MIRRORING the pair gives
    * both directed edges bit-identically, halving the pair work vs a
    * directed self-join. Per-node top-k runs through the bounded
    * [[graft.functions.TopKAggregator]] — ≤k rows shuffle per (map
    * partition, node), never a per-node window funnel. */
  /** The ranked kNN edge computation — `knn_graph`'s body, exposed so
    * [[KnnGraphStore.build]] can write the identical edges WITHOUT the
    * presentation sort (a partitioned store write needs no global
    * order). */
  /** The kNN pair-similarity stream BEFORE its checkpoint boundary —
    * (vec_id_1, vec_id_2, sim), one row per in-cell pair. Exposed so the
    * plan suite can pin the cell-exchange reuse the checkpoint hides. */
  private[graft] def knnPairSims(banded: DataFrame): DataFrame =
    SkewGuard.pairs(banded, "vec_id")
      .withColumn("sim", dotCol("embedding_1", "embedding_2") /
        (col("nrm_1") * col("nrm_2")))
      .select("vec_id_1", "vec_id_2", "sim")

  /** [[knnPairSims]]' banded input for (s, dir) — shared by the query
    * path and the plan pin. */
  private[graft] def knnBanded(s: SparkSession, dir: String): DataFrame =
    seededAssigned(s, dir)
      .select(col("vec_id"), col("cell").as("band"), col("embedding"), col("nrm"))
      .repartition(col("band"))

  private[operators] def knnRankedEdges(
      s: SparkSession, dir: String, sorted: Boolean = true): DataFrame = {
    val banded = knnBanded(s, dir)
    // r20 opt: sims feeds BOTH symmetrization arms — without a boundary
    // the whole cell self-join + per-pair dot kernel executed twice (32
    // parquet scans in one plan). Checkpoint the NARROW (id, id, sim)
    // projection — 24 B/candidate, strictly cheaper than recomputing the
    // join and the 64-dim dots at any scale; embeddings never ride it.
    // (PlanSuite pins the cell-exchange reuse on [[knnPairSims]] — the
    // pre-checkpoint subplan — since the boundary hides it from the
    // outer plan, the r18 LogicalRDD note.)
    val sims = knnPairSims(banded).localCheckpoint(false)
    val directed = sims
      .select(col("vec_id_1").as("query_id"), col("vec_id_2").as("neighbor_id"),
        col("sim"))
      .unionAll(sims.select(col("vec_id_2").as("query_id"),
        col("vec_id_1").as("neighbor_id"), col("sim")))
    topKPerQuery(s, directed, KnnK, presentationSort = sorted)
  }

  private val knnGraph = QueryDef(
    (s, dir) => knnRankedEdges(s, dir),
    Some(s"""WITH $knnGraphSqlCtes
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
      |       ROUND(sim, 4) AS sim
      |FROM granked WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin))

  /** The knn CTE chain (assigned → gpairs → granked) — ONE definition
    * of the graph shared by `knn_graph` and `graph_triangles`, so the
    * triangle count can never drift from the graph it claims to
    * measure. */
  private[operators] def knnGraphSqlCtes: String = s"""$seededAssignSql,
    |gpairs AS (
    |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    |         (${dotSql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS sim
    |  FROM assigned a JOIN assigned b
    |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
    |granked AS (
    |  SELECT query_id, neighbor_id, sim,
    |         row_number() OVER (PARTITION BY query_id
    |                            ORDER BY sim DESC, neighbor_id) AS rank
    |  FROM gpairs)""".stripMargin

  /** TRIANGLE COUNTING over the MUTUAL k-NN graph — the local-density
    * metric graph curation reads next to [[ConnectedComponents]]'s
    * global one (a vector in many triangles sits in a tight semantic
    * cluster; triangle-free vectors are isolated/noise — SemDeDup-style
    * neighborhood evidence). Edges are MUTUAL knn pairs (both
    * directions ranked ≤ k — the standard symmetrization that drops
    * hub-induced one-way edges); triangles are counted once per
    * unordered triple via the a<b<c orientation (each undirected edge
    * stored once as (min, max), so e1(a,b)⋈e2(b,c)⋈e3(a,c) cannot
    * double-count).
    *
    * Shape at 100 TB: the edge list is V·k-bounded (k=[[KnnK]]) — the
    * triangle join is over EDGES, never vectors; two hash joins on
    * vertex keys, integer-only output. The edges come from the
    * PERSISTED [[KnnGraphStore]] (built once per corpus epoch, read by
    * every graph consumer) so this query pays edge-join cost, not a
    * second execution of the kNN chain `knn_graph` already ran — the
    * build-once/probe-many shape a 100 TB curation stack needs. */
  private val graphTriangles = QueryDef(
    (s, dir) => {
      val knn = KnnGraphStore.edgesOf(s, dir).select("query_id", "neighbor_id")
      // V·k-bounded edge list, referenced by THREE self-join sides —
      // checkpoint once so the scan+groupBy runs once, not per arm
      val und = KnnGraphStore.mutualEdges(knn)
        .localCheckpoint(true)
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(col("x").as("v"))
        .unionAll(tri.select(col("y").as("v")))
        .unionAll(tri.select(col("z").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("v"))
        .limit(50)
        .select(col("v").as("vec_id"), col("n_triangles"))
    },
    Some(s"""WITH $knnGraphSqlCtes,
      |knn AS (SELECT query_id, neighbor_id FROM granked WHERE rank <= $KnnK),
      |und AS MATERIALIZED (
      |  SELECT LEAST(query_id, neighbor_id) AS a,
      |         GREATEST(query_id, neighbor_id) AS b
      |  FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
      |tri AS MATERIALIZED (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |verts AS (
      |  SELECT x AS v FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT v AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM verts GROUP BY v
      |ORDER BY n_triangles DESC, vec_id LIMIT 50""".stripMargin))

  // ---- 1-bit sign quantization + Hamming ANN --------------------------

  /** Sign word over dims [lo, hi): bit (i−lo) set iff embedding[i] > 0.
    * TWO 32-bit halves, not one 64-bit word — bit 63 is the BIGINT sign
    * bit and `1 << 63` overflows differently across engines; each half
    * stays a small positive integer. Spark arrays are 0-based. */
  private def signHalfSpark(lo: Int, hi: Int): String =
    s"aggregate(sequence($lo, ${hi - 1}), cast(0 as bigint), (acc, i) -> " +
      s"acc + (CASE WHEN embedding[i] > 0 THEN shiftleft(cast(1 as bigint), i - $lo) " +
      s"ELSE cast(0 as bigint) END))"

  /** Same fold, DuckDB dialect (1-based lists). */
  private def signHalfDuck(lo: Int, hi: Int): String =
    s"CAST(list_sum(list_transform(range($lo, $hi), i -> " +
      s"CASE WHEN embedding[i + 1] > 0 THEN (CAST(1 AS BIGINT) << (i - $lo)) " +
      s"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** 1-BIT (sign) quantized ANN — the most aggressive point on the
    * quantization curve after int8 ([[annInt8Topk]]) and PQ: each vector
    * compresses 64 floats → 64 BITS, and similarity becomes a Hamming
    * distance (two XOR+popcount ops — sim = Dim − hamming, ties broken
    * by neighbor_id like every ANN query). Sign-random-projection theory
    * says popcount approximates angle; this is the memory floor of the
    * family (256 bytes → 8 bytes per vector, 32× fewer scoring bytes).
    *
    * Determinism: the sign fold is exact integer arithmetic from float
    * COMPARISONS only (no float math at all — stricter than int8's
    * scale-and-round); XOR/popcount are bit-exact everywhere.
    *
    * Shape at 100 TB: sig computation is pure narrow; scoring scans
    * 8-byte words with two codegen'd popcounts per pair; top-k via the
    * map-side partial [[topKPerQuery]]. The signature column is the
    * natural persisted index (append-only, no training state at all —
    * cf. [[IvfIndex]]). */
  /** The 1-bit scoring stage — (query_id, neighbor_id, sim) with
    * sim = Dim − hamming — shared by the single-stage query and the
    * re-rank pipeline so the sign-quantization contract can't diverge. */
  private def hammingScored(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"),
        expr(signHalfSpark(0, Dim / 2)).as("sig_lo"),
        expr(signHalfSpark(Dim / 2, Dim)).as("sig_hi"))
    val queries = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    broadcast(queries)
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", expr(
        s"cast($Dim - (bit_count(sig_lo ^ q_lo) + bit_count(sig_hi ^ q_hi)) as double)"))
  }

  /** DuckDB twin of [[hammingScored]]: CTEs ending in
    * `scoredh(query_id, neighbor_id, sim)` — shared by both 1-bit
    * queries. */
  private def hammingScoredSql: String =
    s"""sig AS (
      |  SELECT vec_id,
      |         ${signHalfDuck(0, Dim / 2)} AS sig_lo,
      |         ${signHalfDuck(Dim / 2, Dim)} AS sig_hi
      |  FROM embeddings),
      |hq AS (
      |  SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
      |  FROM sig WHERE vec_id < $NumQueries),
      |scoredh AS (
      |  SELECT query_id, s.vec_id AS neighbor_id,
      |         CAST($Dim - (bit_count(xor(s.sig_lo, q_lo))
      |           + bit_count(xor(s.sig_hi, q_hi))) AS DOUBLE) AS sim
      |  FROM hq, sig s WHERE s.vec_id <> query_id)""".stripMargin

  private val annHammingTopk = QueryDef(
    (s, dir) => {
      topKPerQuery(s, hammingScored(s, dir))
        .withColumn("hamming", (lit(Dim) - col("sim")).cast("int"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $hammingScoredSql,
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scoredh)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
      |       ROUND(sim, 4) AS sim, CAST($Dim - sim AS INT) AS hamming
      |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin))

  /** 1-bit shortlist depth: 40× the final k — DOUBLE the PQ depth and
    * 13× int8's, because a 64-BIT signature carries the most
    * quantization noise in the family (measured recall@10 at sf0.1:
    * 0.16 single-stage → 0.82 at 200-deep → 0.92 at 400-deep). Still
    * k-scaled and corpus-independent; the float re-scan stays
    * shortlist-sized. */
  private val HamShortK = 400

  /** The production shape of 1-bit ANN: the Hamming scan produces a
    * [[HamShortK]] shortlist over 8-byte signatures (32× fewer scored
    * bytes than float), then ONLY the shortlist re-scores with exact
    * float cosine — float reads are k-sized, never corpus-sized. The
    * final window runs over shortlist-sized partitions. Recall joins
    * METRICS next to the single-stage number. */
  private val annHammingRerankTopk = QueryDef(
    (s, dir) => {
      val shortlist = topKPerQuery(s, hammingScored(s, dir), HamShortK)
        .select("query_id", "neighbor_id")
      exactRerankOf(Tables.embeddings(s, dir), shortlist)
    },
    Some(s"""WITH $hammingScoredSql,
      |${normedSql("fe")},
      |${exactRerankSql("scoredh", HamShortK)}""".stripMargin))

  // ---- cluster-coverage diversity sampling ----------------------------

  /** Cluster-proportional DIVERSITY sampling: allocate each semantic
    * cell max(1, ⌊√|cell|⌋) picks and take its most central members
    * (csim desc — the deterministic stand-in for random-within-cluster).
    * The √ allocation flattens the cluster-size head the way α=0.5
    * temperature flattens source shares ([[Sampling]]'s `mix_temperature`
    * recipe applied to semantic space): dominant topics shrink, tail
    * topics keep representation — the topic-coverage subset selection
    * step in front of eval-set construction or seed-corpus picks.
    *
    * Determinism: √ over integer cell sizes is IEEE-correctly-rounded
    * (the mix_temperature precedent), floor to BIGINT is exact; ranks
    * break csim ties by vec_id.
    *
    * Shape at 100 TB: assignment is the zero-shuffle centroid fold; the
    * size table is nlist rows (broadcast); the rank window partitions BY
    * CELL — bounded population per the SemDeDup nlist ∝ N knob, so no
    * window partition outgrows a task. */
  private val sampleDiversity = QueryDef(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // size table + rank join-back both consume the assignment —
      // one lazy materialization, one fold (the dedupSemantic precedent)
      val assigned = seededAssigned(s, dir).select("vec_id", "cell", "csim")
        .localCheckpoint(false)
      val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("cell_size"))
        .withColumn("n_pick", greatest(lit(1L),
          floor(sqrt(col("cell_size").cast("double"))).cast("long")))
      assigned.join(broadcast(sizes), "cell")
        .withColumn("pick_rank", row_number().over(
          Window.partitionBy("cell").orderBy(col("csim").desc, col("vec_id"))))
        .filter(col("pick_rank") <= col("n_pick"))
        .select(col("vec_id"), col("cell"), col("cell_size"), col("pick_rank"))
        .orderBy("cell", "pick_rank")
    },
    Some(s"""WITH $seededAssignSql,
      |sizes AS (
      |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size,
      |         GREATEST(CAST(1 AS BIGINT),
      |           CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS n_pick
      |  FROM assigned GROUP BY cell),
      |dranked AS (
      |  SELECT a.vec_id, a.cell, s.cell_size, s.n_pick,
      |         row_number() OVER (PARTITION BY a.cell
      |           ORDER BY a.csim DESC, a.vec_id) AS pick_rank
      |  FROM assigned a JOIN sizes s USING (cell))
      |SELECT vec_id, cell, cell_size, CAST(pick_rank AS INT) AS pick_rank
      |FROM dranked WHERE pick_rank <= n_pick
      |ORDER BY cell, pick_rank""".stripMargin))

  // ---- hard-negative mining -------------------------------------------

  /** Mine HARD NEGATIVES for the labeled corpus: per query vector, the
    * top-k most cosine-similar vectors with a DIFFERENT label — the
    * highest-value contrastive training pairs (similar embedding, wrong
    * class) that retrieval/embedding fine-tuning mines after every epoch,
    * and the complement of [[embeddingLabelNoise]]'s within-label view.
    *
    * Shape at 100 TB: brute-force scoring here (the oracle-checkable
    * baseline, [[annCosineTopk]]'s plan with the label filter fused into
    * the join condition — rejected pairs never materialize); the scale
    * path swaps the corpus scan for an ANN shortlist ([[annInt8RerankTopk]]
    * / IVF probe) and re-applies the same label filter + top-k. */
  private val mineHardNegatives = QueryDef(
    (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val corpus = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("v"), col("label").as("nl"))
      val queries = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"),
          col("label").as("ql"))
      val scored = broadcast(queries)
        .join(corpus, col("neighbor_id") =!= col("query_id") &&
          col("nl") =!= col("ql"))
        .withColumn("sim", graft.functions.VectorFunctions
          .cosineSimilarity(col("q"), col("v")))
      val top = topKPerQuery(s, scored)
      val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      top
        .join(broadcast(queries.select(col("query_id"), col("ql"))), "query_id")
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label")), "neighbor_id")
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
          col("ql").as("query_label"), col("neighbor_label"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH corpus AS (
      |  SELECT vec_id, label, embedding AS v,
      |         SQRT(${dotSql("embedding", "embedding")}) AS v_norm
      |  FROM embeddings),
      |queries AS (
      |  SELECT vec_id AS query_id, label AS query_label, embedding AS q,
      |         SQRT(${dotSql("embedding", "embedding")}) AS q_norm
      |  FROM embeddings WHERE vec_id < $NumQueries),
      |scored AS (
      |  SELECT query_id, query_label, vec_id AS neighbor_id,
      |         label AS neighbor_label,
      |         (${dotSql("q", "v")}) / (q_norm * v_norm) AS sim
      |  FROM queries, corpus
      |  WHERE vec_id <> query_id AND label <> query_label),
      |ranked AS (
      |  SELECT query_id, query_label, neighbor_id, neighbor_label, sim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
      |       ROUND(sim, 4) AS sim, query_label, neighbor_label
      |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin))

  /** Cosine threshold for [[annRangeSearch]]: low enough that every
    * query returns a non-trivial neighborhood on the fixture (6-14
    * results per query at sf0.01; 0.40 returns nothing there). */
  private[operators] val RangeTau = 0.25

  /** RANGE SEARCH — the threshold face of the similarity-search API
    * (top-k answers "the k closest", range answers "everything within
    * τ" — radius queries, dedup candidate pulls, recall audits). Exact
    * over the broadcast query set: with a handful of query vectors the
    * right plan IS one narrow corpus scan (queries broadcast, sim fused
    * into the scan projection, the τ filter cuts before any shuffle; the
    * only exchange is the presentation sort). A LARGE query set flips to
    * the banded shape instead: SRP-band both sides and verify candidates
    * — exactly [[dedupEmbeddingCosine]]'s machinery with queries as the
    * second relation; this query is also its exactness baseline.
    *
    * The τ comparison crosses engines on bit-identical sims (the same
    * trust the whole top-k family's rank cut rides on). Output ordered
    * by (query_id, neighbor_id) — unique, no tie hazard. */
  private lazy val annRangeSearch = QueryDef(
    (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
      val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
      val queries = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      broadcast(queries)
        .join(corpus, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim",
          graft.functions.VectorFunctions.cosineSimilarity(col("q"), col("v")))
        .filter(col("sim") >= RangeTau)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("query_id", "neighbor_id")
    },
    Some(s"""WITH corpus AS (
      |  SELECT vec_id, embedding AS v,
      |         SQRT(${dotSql("embedding", "embedding")}) AS v_norm
      |  FROM embeddings),
      |queries AS (
      |  SELECT vec_id AS query_id, embedding AS q,
      |         SQRT(${dotSql("embedding", "embedding")}) AS q_norm
      |  FROM embeddings WHERE vec_id < $NumQueries),
      |scored AS (
      |  SELECT query_id, vec_id AS neighbor_id,
      |         (${dotSql("q", "v")}) / (q_norm * v_norm) AS sim
      |  FROM queries, corpus WHERE vec_id <> query_id),
      |rng AS (
      |  -- τ filter in its OWN scope: the final SELECT re-aliases the
      |  -- rounded sim, and a WHERE there would lean on DuckDB's
      |  -- column-over-alias resolution to see the RAW value
      |  SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= $RangeTau)
      |SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim
      |FROM rng ORDER BY query_id, neighbor_id""".stripMargin))

  /** MAXIMUM-INNER-PRODUCT search — the UN-normalized face of the top-k
    * family (recommendation/retrieval scoring where vector MAGNITUDE is
    * signal: a user-item dot, a learned relevance head — the similarity
    * cosine deliberately erases). Same plan as [[annCosineTopk]]: the
    * query set broadcasts, the score fuses into one narrow corpus scan,
    * and [[topKPerQuery]]'s bounded partial aggregation ships at most k
    * rows per (map partition, query). The score is [[dotCol]]'s
    * left-associated double fold — bit-identical to the oracle's
    * explicit sums, so the rank cut is deterministic across engines. */
  private lazy val annMipsTopk = QueryDef(
    (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
      val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
      val queries = emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      val scored = broadcast(queries)
        .join(corpus, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", dotCol("q", "v"))
      topKPerQuery(s, scored)
    },
    Some(s"""WITH corpus AS (
      |  SELECT vec_id AS neighbor_id, embedding AS v FROM embeddings),
      |queries AS (
      |  SELECT vec_id AS query_id, embedding AS q
      |  FROM embeddings WHERE vec_id < $NumQueries),
      |scored AS (
      |  SELECT query_id, neighbor_id, (${dotSql("q", "v")}) AS sim
      |  FROM queries, corpus WHERE neighbor_id <> query_id),
      |${topKTailSql("scored")}""".stripMargin))

  /** Cosine threshold for [[decontaminateEmbedding]]. Fixture-tuned the
    * [[RangeTau]] way: the synthetic embeddings are near-orthogonal, so
    * 0.30 yields a non-trivial report at every SF (22/25/337 pairs at
    * sf0.001/0.01/0.1) where a real-text deployment would sit near
    * 0.9+. The knob, not the shape, is what changes in deployment. */
  private[operators] val SemDecontamTau = 0.30

  /** SEMANTIC decontamination — the embedding face of the contamination
    * family ([[Dedup]]'s `decontaminate_overlap`/`decontaminate_minhash`
    * catch verbatim and lightly-edited eval leakage; this face catches
    * PARAPHRASED leakage that shares no shingles — the reported gap in
    * n-gram contamination audits). One row per (corpus, benchmark) pair
    * with cosine ≥ τ: the audit evidence a removal decision reads.
    *
    * 100 TB shape (the [[Dedup]] decontamination stance): eval suites
    * are metadata-sized, so the benchmark side BROADCASTS and the score
    * fuses into one narrow corpus scan — the corpus never self-joins
    * and never shuffles; the only exchange is the presentation sort
    * over the (rare) contaminated pairs. The τ compare crosses engines
    * on bit-identical left-associated sims. */
  /** Corpus-vs-benchmark cosine hits at [[SemDecontamTau]] —
    * (vec_id, bench_vec_id, sim) — the ONE pair definition behind the
    * standalone [[decontaminateEmbedding]] report and the curation
    * pipeline's semantic-decontamination stage (the stage can't desync
    * from the audit report). Benchmark side broadcasts. */
  private[operators] def semanticContamPairsOf(
      corpus: DataFrame, bench: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding").as("v"))
      .crossJoin(broadcast(bench.select(
        col("vec_id").as("bench_vec_id"), col("embedding").as("q"))))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("q"), col("v")))
      .filter(col("sim") >= SemDecontamTau)

  /** The corpus ids semantic decontamination DROPS: embedding cosine ≥
    * [[SemDecontamTau]] vs any benchmark embedding. One column
    * `vec_id`, distinct — [[graft.operators.TrainingPipeline]]'s stage
    * face. `benchmark` carries the benchmark doc_ids (metadata-sized,
    * broadcasts into both the split and the score join). */
  private[operators] def semanticContaminatedIds(
      emb: DataFrame, benchmark: DataFrame): DataFrame = {
    val ids = benchmark.select(col("doc_id").as("vec_id"))
    val bench = emb.join(broadcast(ids), Seq("vec_id"))
    val corpus = emb.join(broadcast(ids), Seq("vec_id"), "left_anti")
    semanticContamPairsOf(corpus, bench).select("vec_id").distinct()
  }

  /** CTEs ending in `semcontam(doc_id)` — the DuckDB twin of
    * [[semanticContaminatedIds]] for the `doc_id % 97 = 0` benchmark
    * convention (the pipeline oracle composes it; prefix `sc` keeps the
    * chain collision-free). The bench/corpus split derives from
    * DOCUMENTS — the same id list the Spark stage receives — not from a
    * `vec_id % 97` shortcut over embeddings: an embedding whose vec_id
    * has no documents row is CORPUS on the Spark side (the anti-join
    * keeps it), and the twin must agree even when the two id domains
    * drift (r17 advice). The corpus side uses NOT EXISTS, never NOT IN:
    * under three-valued logic one NULL doc_id in documents makes NOT IN
    * return ZERO rows — the twin's corpus would silently go empty while
    * the Spark left_anti keeps all non-matching rows (r18 advice). */
  private[operators] val semContamSqlCtes: String =
    s"""${normedSql("sce")},
      |scbids AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
      |scb AS (SELECT vec_id, embedding AS q, nrm AS qn
      |        FROM sce WHERE vec_id IN (SELECT doc_id FROM scbids)),
      |scc AS (SELECT vec_id, embedding AS v, nrm AS vn
      |        FROM sce WHERE NOT EXISTS (
      |          SELECT 1 FROM scbids WHERE scbids.doc_id = sce.vec_id)),
      |semcontam AS (
      |  SELECT DISTINCT c.vec_id AS doc_id
      |  FROM scc c, scb b
      |  WHERE (${dotSql("b.q", "c.v")}) / (b.qn * c.vn) >= $SemDecontamTau)""".stripMargin

  private lazy val decontaminateEmbedding = QueryDef(
    (s, dir) => {
      val emb = Tables.embeddingsSpread(s, dir)
      semanticContamPairsOf(
          emb.filter(col("vec_id") % 97 =!= 0),
          emb.filter(col("vec_id") % 97 === 0))
        .select(col("vec_id"), col("bench_vec_id"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_id", "bench_vec_id")
    },
    Some(s"""WITH ${normedSql("e")},
      |bench AS (
      |  SELECT vec_id AS bench_vec_id, embedding AS q, nrm AS qn
      |  FROM e WHERE vec_id % 97 = 0),
      |corpus AS (
      |  SELECT vec_id, embedding AS v, nrm AS vn
      |  FROM e WHERE vec_id % 97 <> 0),
      |scored AS (
      |  SELECT c.vec_id, b.bench_vec_id,
      |         (${dotSql("b.q", "c.v")}) / (b.qn * c.vn) AS sim
      |  FROM corpus c, bench b),
      |hits AS (
      |  SELECT vec_id, bench_vec_id, sim FROM scored
      |  WHERE sim >= $SemDecontamTau)
      |SELECT vec_id, bench_vec_id, ROUND(sim, 4) AS sim
      |FROM hits ORDER BY vec_id, bench_vec_id""".stripMargin))

  val all: Map[String, QueryDef] = Map(
    "ann_mips_topk" -> annMipsTopk,
    "decontaminate_embedding" -> decontaminateEmbedding,
    "knn_graph" -> knnGraph,
    "graph_triangles" -> graphTriangles,
    "ann_cosine_topk" -> annCosineTopk,
    "ann_range_search" -> annRangeSearch,
    "ann_hamming_topk" -> annHammingTopk,
    "ann_hamming_rerank_topk" -> annHammingRerankTopk,
    "sample_diversity" -> sampleDiversity,
    "mine_hard_negatives" -> mineHardNegatives,
    "ann_int8_topk" -> annInt8Topk,
    "ann_int8_rerank_topk" -> annInt8RerankTopk,
    "ann_pq_topk" -> annPqTopk,
    "ann_pq_rerank_topk" -> annPqRerankTopk,
    "ann_ivfpq_topk" -> annIvfPqTopk,
    "ann_ivfpq_residual_topk" -> annIvfPqResidualTopk,
    "ann_lsh_srp" -> annLshSrp,
    "ann_lsh_pairs" -> annLshPairs,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_ivf_kmeans_topk" -> annIvfKmeansTopk,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_semantic" -> dedupSemantic,
    "embedding_outliers" -> embeddingOutliers,
    "embedding_label_noise" -> embeddingLabelNoise)

  /** LABEL-NOISE pruning report — the supervised-data curation op over
    * the `label` column: per label, the TRAINED centroid is the mean of
    * its members (ROUND(AVG, 6) — the kmeans determinism precedent), and
    * the report lists every vector in the BOTTOM DECILE of
    * own-label-centroid cosine within its label: the members least like
    * their class, i.e. the mislabeled/ambiguous-example suspects a
    * labeled-dataset pass reviews or drops (the centroid-distance face
    * of Datamaps/Confident-Learning-style pruning, deterministic).
    *
    * Shape at 100 TB ([[embeddingOutliers]]' machinery with labels for
    * cells): the centroid table is ONE map-side-combined groupBy(label)
    * carrying 64 partial means (#labels rows, driver-held literal);
    * per-row csim is narrow fold arithmetic; deciles come from a
    * (label, 1001-slot) fixed-point histogram — cum windows run over
    * metadata, never the corpus — and the slot set broadcasts back. The
    * corpus never shuffles. */
  private lazy val embeddingLabelNoise = QueryDef(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddingsSpread(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn("nrm", sqrt(dotCol("embedding", "embedding")))
      val cents = collectCentroids(
        emb.groupBy(col("label").cast("long").as("cent_id"))
          .agg(array((1 to Dim).map(i =>
            round(avg(element_at(col("embedding"), i).cast("double")), 6)): _*)
            .as("cvec"))
          .withColumn("cnrm", sqrt(dotCol("cvec", "cvec"))))
      require(cents.map(_.cent_id) == (0L until cents.length),
        "labels must be contiguous 0..k-1 (positional centroid lookup)")
      val cvecs = typedLit(cents.map(_.cvec.toIndexedSeq).toIndexedSeq)
      val cnrms = typedLit(cents.map(_.cnrm).toIndexedSeq)
      val slotted = emb
        .withColumn("cv", element_at(cvecs, col("label").cast("int") + 1))
        .withColumn("cn2", element_at(cnrms, col("label").cast("int") + 1))
        .withColumn("csim", dotCol("embedding", "cv") / (col("nrm") * col("cn2")))
        .select(col("vec_id"), col("label"), col("csim"),
          (floor(col("csim") * 500).cast("long") + 500L).as("slot"))
      val hist = slotted.groupBy("label", "slot").agg(count(lit(1)).as("n"))
      val noise = hist
        .withColumn("cum_lo",
          sum("n").over(Window.partitionBy("label").orderBy(col("slot"))))
        .withColumn("cn", sum("n").over(Window.partitionBy("label")))
        .filter(col("cum_lo") <= expr("cn div 10"))
        .select("label", "slot")
      slotted.join(broadcast(noise), Seq("label", "slot"))
        .select(col("vec_id"), col("label"), round(col("csim"), 4).as("csim"))
        .orderBy("vec_id")
    },
    Some {
      val meanList = (1 to Dim)
        .map(i => s"ROUND(AVG(CAST(embedding[$i] AS DOUBLE)), 6)")
        .mkString("[", ", ", "]")
      s"""WITH e AS (
        |  SELECT vec_id, embedding, label,
        |         SQRT(${dotSql("embedding", "embedding")}) AS nrm
        |  FROM embeddings),
        |lcents AS (
        |  SELECT label, $meanList AS cvec FROM e GROUP BY label),
        |lcents2 AS (
        |  SELECT label, cvec, SQRT(${dotSql("cvec", "cvec")}) AS cnrm
        |  FROM lcents),
        |slotted AS (
        |  SELECT e.vec_id, e.label,
        |         (${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm) AS csim,
        |         CAST(floor((${dotSql("e.embedding", "c.cvec")}) / (e.nrm * c.cnrm)
        |           * 500) AS BIGINT) + 500 AS slot
        |  FROM e JOIN lcents2 c ON e.label = c.label),
        |hist AS (
        |  SELECT label, slot, count(*) AS n FROM slotted GROUP BY label, slot),
        |noise AS (
        |  SELECT label, slot FROM (
        |    SELECT label, slot, n,
        |           SUM(n) OVER (PARTITION BY label ORDER BY slot) AS cum_lo,
        |           SUM(n) OVER (PARTITION BY label) AS cn
        |    FROM hist)
        |  WHERE cum_lo <= cn // 10)
        |SELECT s.vec_id, s.label, ROUND(s.csim, 4) AS csim
        |FROM slotted s JOIN noise t ON s.label = t.label AND s.slot = t.slot
        |ORDER BY vec_id""".stripMargin
    })
}
