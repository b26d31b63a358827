package graft.operators

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

/**
 * The two faces of the seeded coarse quantizer must be the SAME
 * quantizer: the literal-fold face (`assignCellsWithSim`, nlist ≤
 * `LiteralCentroidMax`) and the broadcast-join face
 * (`assignCellsWithSimBcast`, past it) run the identical
 * `nearestCentroid` fold over the identical cent_id-ascending centroid
 * sequence, so every row's (cell, csim) must match BIT-FOR-BIT — the
 * r16 `AdaptiveCellCap` ceiling is lifted only if switching faces can
 * never move a vector between cells.
 *
 * Also pins the switch itself (past the literal ceiling the plan is a
 * broadcast join, below it a literal fold with no join) and the scale
 * property the switch exists for: occupancy stays ~constant as the
 * corpus grows, because nlist grows with it.
 */
class SeededQuantizerFaceSuite extends SparkSuite {

  test("literal fold ≡ broadcast join, cell-for-cell and csim-bit-for-bit") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
    val nlist = Similarity.adaptiveNlist(emb.count())
    val lit = Similarity.assignCellsWithSim(emb,
        Similarity.collectCentroids(emb.filter(col("vec_id") < nlist)
          .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
            col("nrm").as("cnrm"))))
      .select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val bc = Similarity.assignCellsWithSimBcast(emb,
        Similarity.seededCentsDf(emb, nlist))
      .select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(lit.length == bc.length && lit.length > 0)
    lit.zip(bc).foreach { case (l, b) =>
      assert(l._1 == b._1 && l._2 == b._2, s"cell mismatch: $l vs $b")
      // bit-identity, not tolerance: same fold, same order, same widening
      assert(java.lang.Double.doubleToRawLongBits(l._3) ==
        java.lang.Double.doubleToRawLongBits(b._3), s"csim bits: $l vs $b")
    }
  }

  test("native kernel ≡ HOF fold, cell-for-cell and csim-bit-for-bit, both faces") {
    // The r17-verdict task: the codegen'd NearestCentroid expression must
    // be the SAME function as the executable spec it replaced. Literal
    // face (typedLit centroids) on the real embeddings:
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
    val nlist = Similarity.adaptiveNlist(emb.count())
    val cents = Similarity.collectCentroids(emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("nrm").as("cnrm")))
    def run(best: org.apache.spark.sql.Column) = emb.withColumn("best", best)
      .select(col("vec_id"), col("best.cent_id"), col("best.csim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val hof = run(Similarity.nearestCentroidHof(
      typedLit(cents), col("embedding"), col("nrm")))
    val native = run(graft.functions.VectorFunctions.nearestCentroid(
      typedLit(cents), col("embedding"), col("nrm")))
    assert(hof.length == native.length && hof.nonEmpty)
    hof.zip(native).foreach { case (h, k) =>
      assert(h._1 == k._1 && h._2 == k._2, s"cell mismatch: $h vs $k")
      assert(java.lang.Double.doubleToRawLongBits(h._3) ==
        java.lang.Double.doubleToRawLongBits(k._3), s"csim bits: $h vs $k")
    }
    // Broadcast face: the packed sort_array centroid row through the
    // kernel vs through the fold — same pin.
    val packed = Similarity.seededCentsDf(emb, nlist)
      .agg(sort_array(collect_list(struct(
        col("cent_id"), col("cvec"), col("cnrm")))).as("cents_arr"))
    def runB(mk: org.apache.spark.sql.Column) = emb.crossJoin(broadcast(packed))
      .withColumn("best", mk)
      .select(col("vec_id"), col("best.cent_id"), col("best.csim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val hofB = runB(Similarity.nearestCentroidHof(
      col("cents_arr"), col("embedding"), col("nrm")))
    val natB = runB(graft.functions.VectorFunctions.nearestCentroid(
      col("cents_arr"), col("embedding"), col("nrm")))
    hofB.zip(natB).foreach { case (h, k) =>
      assert(h._1 == k._1 && h._2 == k._2 &&
        java.lang.Double.doubleToRawLongBits(h._3) ==
          java.lang.Double.doubleToRawLongBits(k._3), s"bcast face: $h vs $k")
    }
  }

  test("native kernel ≡ HOF fold on the degenerate truth table") {
    // Ties, length mismatches, null elements, null vec/nrm, NaN, null
    // centroid entries — every clause of the bit-equality contract,
    // pinned against the fold as the executable spec.
    import spark.implicits._
    val cents = Seq(
      Similarity.Centroid(0L, Seq(1.0, 0.0), 1.0),
      Similarity.Centroid(1L, Seq(1.0, 0.0), 1.0),          // exact tie with 0
      Similarity.Centroid(2L, Seq(1.0, 0.0, 5.0), 3.0),     // length mismatch: skipped
      Similarity.Centroid(3L, Seq(0.5, 0.5), 0.7071067811865476))
    val rows = Seq(
      (0L, Some(Seq(Some(1.0f), Some(0.1f))), Some(1.0050368893189337)),
      (1L, Some(Seq(Some(0.1f), Some(1.0f))), Some(1.0050368893189337)),
      (2L, Some(Seq(Some(1.0f), None)), Some(1.0)),         // null element: all skipped
      (3L, None, Some(1.0)),                                // null vec -> (-1, -2.0)
      (4L, Some(Seq(Some(1.0f), Some(0.0f))), None),        // null nrm -> (-1, -2.0)
      (5L, Some(Seq(Some(Float.NaN), Some(0.0f))), Some(1.0)))
      .toDF("vec_id", "embedding", "nrm")
    def run(best: org.apache.spark.sql.Column) = rows.withColumn("best", best)
      .select(col("vec_id"), col("best.cent_id"), col("best.csim")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val hof = run(Similarity.nearestCentroidHof(
      typedLit(cents), col("embedding"), col("nrm")))
    val native = run(graft.functions.VectorFunctions.nearestCentroid(
      typedLit(cents), col("embedding"), col("nrm")))
    assert(hof.length == native.length)
    hof.zip(native).foreach { case (h, k) =>
      assert(h._1 == k._1 && h._2 == k._2 &&
        java.lang.Double.doubleToRawLongBits(h._3) ==
          java.lang.Double.doubleToRawLongBits(k._3),
        s"degenerate row: $h vs $k")
    }
    // the tie keeps the LOWEST cent_id and the null-vec rows yield the
    // initial accumulator, per the contract
    val byId = native.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(0L)._1 == 0L)
    assert(byId(3L) == ((-1L, -2.0)) && byId(4L) == ((-1L, -2.0)))
    // null cents -> null result on both forms
    val nullCents = lit(null).cast(
      "array<struct<cent_id:bigint,cvec:array<double>,cnrm:double>>")
    val h = rows.limit(1).select(Similarity.nearestCentroidHof(
      nullCents, col("embedding"), col("nrm")).as("b")).collect()(0)
    val k = rows.limit(1).select(graft.functions.VectorFunctions.nearestCentroid(
      nullCents, col("embedding"), col("nrm")).as("b")).collect()(0)
    assert(h.isNullAt(0) && k.isNullAt(0))
  }

  test("native nearest_code kernel ≡ HOF fold on real PQ subspaces and the degenerate table") {
    // same contract as the centroid kernel under an L2 objective: the
    // PQ encode must pick identical codes on every subspace of the real
    // embeddings, and agree with the fold on ties/mismatches/nulls
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
      .withColumn("nx", expr("transform(embedding, x -> cast(x as double) / nrm)"))
    val books = Similarity.pqTrainBooks(emb)
    (0 until Similarity.PqM).foreach { m =>
      val sub = slice(col("nx"), m * Similarity.PqSubDim + 1, Similarity.PqSubDim)
      val all3 = emb.select(col("vec_id"),
          Similarity.nearestCodeHofIn(typedLit(books(m)), sub).as("hof"),
          graft.functions.VectorFunctions.nearestCode(
            typedLit(books(m)), sub).as("native"), sub.as("sub"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          Similarity.nearestCodeLocal(r.getSeq[Double](3).toArray, books(m))))
      assert(all3.nonEmpty)
      all3.foreach { case (id, h, k, l) =>
        assert(h == k && h == l, s"subspace $m vec $id: fold=$h kernel=$k driver=$l")
      }
    }
    // degenerate truth table: exact tie (lowest code wins), length
    // mismatch (skipped), null sub (-1), null codebook (null)
    import spark.implicits._
    val cb = Seq(
      Similarity.SubCentroid(0, Seq(1.0, 0.0)),
      Similarity.SubCentroid(1, Seq(1.0, 0.0)),   // exact tie with 0
      Similarity.SubCentroid(2, Seq(1.0, 0.0, 9.0)), // mismatch: skipped
      Similarity.SubCentroid(3, Seq(0.0, 1.0)))
    val rows = Seq(
      (0L, Some(Seq(1.0, 0.05))), (1L, Some(Seq(0.05, 1.0))), (2L, None))
      .toDF("vec_id", "sub")
    val out = rows.select(col("vec_id"),
        Similarity.nearestCodeHofIn(typedLit(cb), col("sub")).as("hof"),
        graft.functions.VectorFunctions.nearestCode(
          typedLit(cb), col("sub")).as("native"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    out.foreach { case (id, h, k) => assert(h == k, s"row $id: $h vs $k") }
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(0L) == 0 && byId(1L) == 3 && byId(2L) == -1)
    // the driver replica on the non-null rows (a null sub has no driver form)
    assert(Similarity.nearestCodeLocal(Array(1.0, 0.05), cb) == byId(0L))
    assert(Similarity.nearestCodeLocal(Array(0.05, 1.0), cb) == byId(1L))
    val nullCb = lit(null).cast("array<struct<code:int,cvec:array<double>>>")
    val h = rows.limit(1).select(Similarity.nearestCodeHofIn(
      nullCb, col("sub")).as("c")).collect()(0)
    val k = rows.limit(1).select(graft.functions.VectorFunctions.nearestCode(
      nullCb, col("sub")).as("c")).collect()(0)
    assert(h.isNullAt(0) && k.isNullAt(0))
  }

  test("driver round6 ≡ Spark's round(x, 6) on half-ulp edges, both signs, tiny values and integers") {
    // decimal halves at the 6th digit (not exact in binary — RoundBase
    // rounds the SHORTEST decimal, so they go up), their one-ulp
    // neighbours, exact binary halves (m/128), sub-1e-6 values,
    // integers and the non-finite passthrough
    val halves = Seq(5e-7, 1.5e-6, 2.5e-6, 0.1234565, 0.9999995, 1.0000005,
      123.4567895, 0.0078125, 0.0234375)
    val base = halves ++ halves.flatMap(d => Seq(math.nextUp(d), math.nextDown(d))) ++
      Seq(1e-7, 4.9e-7, 5.1e-7, 1e-300, Double.MinPositiveValue,
        0.0, 1.0, 3.0, 1e15, 9007199254740992.0, 1e22, Double.MaxValue)
    val values = base ++ base.map(-_) ++
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // literal (folded, interpreted eval) and a range-backed column
    // (generated code)
    val folded = spark.range(1).select(values.map(d => round(lit(d), 6)): _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Double])
    val generated = spark.range(values.size)
      .select(round(element_at(typedLit(values), col("id").cast("int") + 1), 6))
      .collect().map(_.getDouble(0)).toSeq
    values.indices.foreach { i =>
      val d = Similarity.round6(values(i))
      assert(raw(d) == raw(folded(i)), s"${values(i)}: driver $d, round(lit) ${folded(i)}")
      assert(raw(d) == raw(generated(i)), s"${values(i)}: driver $d, round(col) ${generated(i)}")
    }
    assert(Similarity.round6(5e-7) == 1e-6 && Similarity.round6(-5e-7) == -1e-6)
  }

  test("past LiteralCentroidMax the assignment plans a broadcast join; below it, none") {
    import spark.implicits._
    val tiny = (0L until 64L).map { i =>
      val r = new java.util.SplittableRandom(i)
      (i, Array.fill(4)(r.nextDouble(-1.0, 1.0).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // precount far past the ceiling forces the broadcast face even on a
    // tiny frame — the switch is by nlist, not by actual rows
    val past = Similarity.seededAssignedOf(tiny,
      Some((Similarity.LiteralCentroidMax + 1) * Similarity.AdaptiveCellTarget))
    assert(past.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val below = Similarity.seededAssignedOf(tiny, Some(64L))
    assert(!below.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"))
  }

  test("two-level face: ≡ driver replica, exact within the probed group, plans past TwoLevelMin") {
    import spark.implicits._
    // a corpus big enough that the forced nlist leaves real occupancy:
    // precount forces nlist = 16400 > TwoLevelMin; the first 16400 rows
    // are centroids, reps are the first ⌊√16400⌋ = 128 of those
    val n = 24000
    val dims = 8
    val nlist = Similarity.adaptiveNlist((Similarity.TwoLevelMin + 16) * 250)
    assert(nlist > Similarity.TwoLevelMin)
    val corpus = spark.range(0, n, 1, 8).map { id =>
      val r = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 7)
      (id, Array.fill(dims)(r.nextDouble(-1.0, 1.0).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
    val twoLevel = Similarity.assignCellsWithSimTwoLevel(
        corpus, Similarity.seededCentsDf(corpus, nlist), nlist)
      .select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(twoLevel.length == n)

    // ---- driver replica: the SAME trained reps, same restricted probe ----
    val cents = Similarity.collectCentroids(
      Similarity.seededCentsDf(corpus, nlist))
    val reps = Similarity.twoLevelReps(
      Similarity.seededCentsDf(corpus, nlist), nlist)
    def localNrm(v: Seq[Float]): Double =
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    val grpOf = cents.map { c =>
      c.cent_id -> Similarity.nearestCentroidLocal(
        c.cvec.map(_.toFloat), c.cnrm, reps)
    }.toMap
    val members = cents.groupBy(c => grpOf(c.cent_id))
      .map { case (g, cs) => g -> cs.sortBy(_.cent_id) }
    val liveReps = reps.filter(r => members.contains(r.cent_id))
    val embRows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val sample = embRows.filter(_._1 % 11 == 0) // ~2.2k rows
    sample.foreach { case (id, v) =>
      val nrm = localNrm(v)
      val g = Similarity.nearestCentroidLocal(v, nrm, liveReps)
      val best = Similarity.nearestCentroidLocal(v, nrm, members(g))
      val got = twoLevel(id.toInt)
      assert(got._2 == best, s"row $id: spark cell ${got._2}, replica $best")
    }

    // ---- within-group exactness vs the flat face ----
    val flat = Similarity.assignCellsWithSimBcast(
        corpus, Similarity.seededCentsDf(corpus, nlist))
      .select("vec_id", "cell", "csim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    var agree = 0
    sample.foreach { case (id, v) =>
      val nrm = localNrm(v)
      val g = Similarity.nearestCentroidLocal(v, nrm, liveReps)
      val (fid, fcell, fcsim) = flat(id.toInt)
      val (_, tcell, tcsim) = twoLevel(id.toInt)
      assert(fid == id)
      if (grpOf(fcell) == g) {
        // flat's winner is IN the probed group: two-level must equal it
        assert(tcell == fcell &&
          java.lang.Double.doubleToRawLongBits(tcsim) ==
            java.lang.Double.doubleToRawLongBits(fcsim),
          s"row $id: flat ($fcell, $fcsim) in probed group but two-level ($tcell, $tcsim)")
        agree += 1
      }
    }
    // the approximation is useful, not vacuous: most rows' true nearest
    // centroid lives in their nearest rep's group on this corpus
    assert(agree.toDouble / sample.length > 0.5,
      s"agreement ${agree.toDouble / sample.length} over ${sample.length} rows")

    // ---- the DEFAULT stays the exact flat quantizer at every nlist
    // (the two-level face is a measured REJECTION as a default — 16%
    // cell agreement / 38% dropped recall; it is exercised above by
    // direct construction only) ----
    val pastPlan = Similarity.quantizerAssignment(corpus,
        Some((Similarity.TwoLevelMin + 16) * 250))
      .queryExecution.optimizedPlan.toString
    assert(pastPlan.contains("cents_arr") && !pastPlan.contains("members_map"),
      "past TwoLevelMin the default must STAY flat (rejection pin)")
    val flatPlan = Similarity.quantizerAssignment(corpus,
        Some((Similarity.LiteralCentroidMax + 1) * 250))
      .queryExecution.optimizedPlan.toString
    assert(flatPlan.contains("cents_arr") && !flatPlan.contains("members_map"))
  }

  test("multi-probe p>=2: ≡ flat when the winner is probed; HOF sim ≡ kernel bit-for-bit") {
    import spark.implicits._
    // the p>=2 path was otherwise exercised only by a one-off recall
    // drive (docs/PLANS_r19.md); this is the DETERMINISTIC pin. Corpus
    // and quantizer are small enough for exact flat comparison.
    val n = 2500
    val dims = 8
    val nlist = 256L
    val corpus = spark.range(0, n, 1, 8).map { id =>
      val r = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 11)
      (id, Array.fill(dims)(r.nextDouble(-1.0, 1.0).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
    val centsDf = Similarity.seededCentsDf(corpus, nlist)

    def collectAssign(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "csim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)

    val flat = collectAssign(Similarity.assignCellsWithSimBcast(corpus, centsDf))

    // ---- probe EVERY group: every winner is in a probed group by
    // construction, so p = groups must equal flat for ALL rows,
    // cell-for-cell and csim-bit-for-bit (the advice's corpus property,
    // taken to its exhaustive limit)
    val groups = Similarity.twoLevelGroups(nlist).toInt
    val pAll = collectAssign(Similarity.assignCellsWithSimTwoLevel(
      corpus, centsDf, nlist, probes = groups))
    assert(pAll.length == n && flat.length == n)
    pAll.zip(flat).foreach { case ((id, c2, s2), (idf, cf, sf)) =>
      assert(id == idf)
      assert(c2 == cf, s"row $id: p=all cell $c2 vs flat $cf")
      assert(java.lang.Double.doubleToRawLongBits(s2) ==
        java.lang.Double.doubleToRawLongBits(sf),
        s"row $id: p=all csim $s2 vs flat $sf")
    }

    // ---- p = 2: equality must hold exactly on the rows whose flat
    // winner's group ranks in that row's top-2 probed groups (driver
    // replica of the rep ranking — same fold arithmetic)
    val cents = Similarity.collectCentroids(centsDf)
    val reps = Similarity.twoLevelReps(centsDf, nlist)
    val grpOf = cents.map { c =>
      c.cent_id -> Similarity.nearestCentroidLocal(
        c.cvec.map(_.toFloat), c.cnrm, reps)
    }.toMap
    val liveReps = reps.filter(r => grpOf.values.toSet.contains(r.cent_id))
    val p2 = collectAssign(Similarity.assignCellsWithSimTwoLevel(
      corpus, centsDf, nlist, probes = 2))
    val embRows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    var pinned2 = 0
    embRows.foreach { case (id, v) =>
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val top2 = liveReps.map { r =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i).toDouble * r.cvec(i); i += 1 }
        (r.cent_id, dot / (nrm * r.cnrm))
      }.sortBy { case (cid, s) => (-s, cid) }.take(2).map(_._1).toSet
      val (_, fcell, fsim) = flat(id.toInt)
      if (top2.contains(grpOf(fcell))) {
        val (_, tcell, tsim) = p2(id.toInt)
        assert(tcell == fcell && java.lang.Double.doubleToRawLongBits(tsim) ==
          java.lang.Double.doubleToRawLongBits(fsim),
          s"row $id: flat ($fcell, $fsim) in top-2 groups but p=2 ($tcell, $tsim)")
        pinned2 += 1
      }
    }
    assert(pinned2 > n / 2, s"p=2 pin vacuous: only $pinned2 of $n rows in scope")

    // ---- the HOF sim (the p>=2 rep-ranking arithmetic) is bit-identical
    // to the native kernel's csim, per (row, rep) pair
    val k = graft.functions.VectorFunctions.nearestCentroid _
    val bitMismatch = liveReps.map { rep =>
      val one = typedLit(Seq(rep))
      corpus.select(
        k(one, col("embedding"), col("nrm")).getField("csim").as("a"),
        Similarity.nearestCentroidHofSim(typedLit(rep), col("embedding"),
          col("nrm")).as("b"))
        .collect().count(r =>
          java.lang.Double.doubleToRawLongBits(r.getDouble(0)) !=
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }.sum
    assert(bitMismatch == 0,
      s"HOF sim diverged from the kernel on $bitMismatch (row, rep) pairs")
  }

  test("two-level reps seed from the first centroids by ORDER, not by id value") {
    import spark.implicits._
    // sparse/offset cent_ids: the old `cent_id < groups` filter selected
    // ZERO rows here and reps0.head threw NoSuchElementException (r18
    // advice) — seeding must take the first ⌊√nlist⌋ by cent_id order
    val nlist = 16L
    val sparse = (0 until nlist.toInt).map { i =>
      val r = new java.util.SplittableRandom(i * 7919L + 3)
      val cv = Seq.fill(4)(r.nextDouble(-1.0, 1.0))
      (1000L + 100L * i, cv, math.sqrt(cv.map(x => x * x).sum))
    }.toDF("cent_id", "cvec", "cnrm")
    val reps = Similarity.twoLevelReps(sparse, nlist)
    assert(reps.nonEmpty && reps.size <= Similarity.twoLevelGroups(nlist),
      s"got ${reps.size} reps for ${Similarity.twoLevelGroups(nlist)} groups")
    // renumbered ascending from 0 (the Lloyd contract), whatever the ids
    assert(reps.map(_.cent_id) == reps.indices.map(_.toLong))
    // and an EMPTY centroid relation fails loudly, not with a bare head
    val empty = sparse.filter(col("cent_id") < 0L)
    val ex = intercept[IllegalArgumentException](
      Similarity.twoLevelReps(empty, nlist))
    assert(ex.getMessage.contains("no centroids"), ex.getMessage)
  }

  test("broadcast face: occupancy stays ~constant as the corpus grows") {
    import spark.implicits._
    def corpus(n: Long) = spark.range(0, n, 1, 16).map { id =>
      val r = new java.util.SplittableRandom(id * 0x9E3779B97F4A7C15L + 11)
      (id, Array.fill(2)(r.nextDouble(-1.0, 1.0).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(Similarity.dotCol("embedding", "embedding")))
    def occupancy(n: Long): (Double, Long) = {
      val nlist = Similarity.adaptiveNlist(n)
      val sizes = Similarity.assignCellsWithSimBcast(corpus(n),
          Similarity.seededCentsDf(corpus(n), nlist))
        .groupBy("cell").agg(count(lit(1)).as("c"))
        .select("c").collect().map(_.getLong(0))
      (n.toDouble / sizes.length, sizes.max)
    }
    val (mean1, max1) = occupancy(30000L)
    val (mean4, max4) = occupancy(120000L)
    // mean occupancy is pinned by construction (AdaptiveCellTarget);
    // the claim under test is that a 4x corpus does NOT grow cells
    assert(math.abs(mean1 - Similarity.AdaptiveCellTarget) < 1.0, s"mean1=$mean1")
    assert(math.abs(mean4 - Similarity.AdaptiveCellTarget) < 1.0, s"mean4=$mean4")
    assert(max4 < 2.5 * max1, s"max occupancy grew: $max1 -> $max4")
  }
}
