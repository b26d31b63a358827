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
    // pinned against the fold as the executable spec, with the driver
    // replica (nearestCentroidLocal / probeCells) as the third voice.
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
      (5L, Some(Seq(Some(Float.NaN), Some(0.0f))), Some(1.0)),
      // a dot over the common prefix would score the longer centroid 2
      // at -1/3 and pick it; skipped, the winner is 3 at -0.707
      (6L, Some(Seq(Some(-1.0f), Some(0.0f))), Some(1.0)))
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
    assert(byId(6L)._1 == 3L)
    // driver replica on every row without nulls: the first probe cell is
    // the kernel's, and the two-cell ranking is (p1, p2 excluding p1)
    rows.collect().filter(r => !r.isNullAt(1) && !r.isNullAt(2) &&
        !r.getSeq[Any](1).contains(null)).foreach { r =>
      val (id, q, nrm) = (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))
      val p1 = Similarity.nearestCentroidLocal(q, nrm, cents)
      val p2 = Similarity.nearestCentroidLocal(q, nrm, cents, exclude = Set(p1))
      assert(p1 == byId(id)._1, s"row $id: driver $p1, kernel ${byId(id)._1}")
      assert(Similarity.probeCells(q, nrm, cents, 2) == Seq(p1, p2),
        s"row $id: probeCells ${Similarity.probeCells(q, nrm, cents, 2)} vs ($p1, $p2)")
    }
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
