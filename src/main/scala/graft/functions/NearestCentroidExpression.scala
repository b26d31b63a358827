package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * `nearest_centroid(cents, vec, nrm)` — the coarse-quantizer assignment
 * kernel as ONE native expression, bit-identical to the HOF fold it
 * replaces (`Similarity.nearestCentroidHof`):
 *
 *   aggregate(cents, struct(-1L AS cent_id, -2.0D AS csim), (acc, c) ->
 *     CASE WHEN aggregate(zip_with(vec, c.cvec, (x, y) ->
 *                   CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D,
 *                 (a, x) -> a + x) / (nrm * c.cnrm) > acc.csim
 *          THEN struct(c.cent_id, csim) ELSE acc END)
 *
 * Why native: assignment cost is N×nlist×dim multiply-adds, and with
 * nlist ∝ N (the occupancy-constant quantizer) that is the measured
 * dominant term past ~1M vectors (docs/PLANS_r17.md §4: 4,423 s at 1.04M
 * vectors where within-cell work extrapolates to ~600 s). The HOF form
 * pays interpreted lambda dispatch and a struct allocation per CENTROID
 * per row; this expression runs the identical arithmetic as a tight
 * primitive double loop under whole-stage codegen.
 *
 * Bit-equality contract (each clause mirrors one HOF behavior, in the
 * order the fold evaluates them; `SeededQuantizerFaceSuite` pins kernel ≡
 * fold cell-for-cell and csim-bit-for-bit on both quantizer faces):
 *  - centroids are visited in ARRAY ORDER (callers sort by cent_id) and
 *    an improvement requires STRICT `>` under Spark's NaN-safe double
 *    ordering (`SQLOrderingUtil.compareDoubles` — what GreaterThan
 *    generates for doubles), so ties keep the lowest cent_id and a NaN
 *    csim (possible only from NaN inputs) compares greatest, exactly as
 *    the fold's `when(csim > acc.csim, …)`;
 *  - the dot product is the LEFT-ASSOCIATED IEEE double sum in index
 *    order starting at 0.0, after exact float→double widening — the same
 *    value `aggregate(zip_with(...))` folds;
 *  - a null centroid entry, a null cvec/cnrm field, a vec/cvec LENGTH
 *    MISMATCH (zip_with pads the short side with nulls), or a null
 *    ELEMENT on either side all make the HOF csim null, and a null csim
 *    fails the `>` — the centroid is SKIPPED; element/field null checks
 *    are emitted only when the static type says they can occur;
 *  - `nrm * cnrm == 0.0` makes Spark's Divide return null (centroid
 *    skipped) in legacy mode and raise DIVIDE_BY_ZERO under ANSI — the
 *    kernel captures `failOnError` from SQLConf at construction exactly
 *    like Divide does;
 *  - null `vec` or null `nrm` nulls every csim, so the fold returns its
 *    INITIAL accumulator — the kernel yields `(-1L, -2.0)`, NOT null;
 *  - null `cents` nulls the outer aggregate — the kernel yields null.
 *
 * Scale shape: this expression changes per-row COMPUTE only. The plan
 * around it is unchanged — literal face below `LiteralCentroidMax`
 * (centroid array in the plan, zero shuffle), broadcast-join face past it
 * (one nlist-row exchange, corpus never shuffles).
 */
final case class NearestCentroid(
    first: Expression, second: Expression, third: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends TernaryExpression {

  private def cents = first
  private def vec = second
  private def nrm = third

  override def prettyName: String = "nearest_centroid"

  // --- static shape of the centroid struct, resolved once at analysis ---

  private lazy val centsType: ArrayType = cents.dataType.asInstanceOf[ArrayType]
  private lazy val centStruct: StructType = centsType.elementType.asInstanceOf[StructType]
  private lazy val centIdOrd: Int = centStruct.fieldIndex("cent_id")
  private lazy val cvecOrd: Int = centStruct.fieldIndex("cvec")
  private lazy val cnrmOrd: Int = centStruct.fieldIndex("cnrm")
  private lazy val centIdNullable: Boolean = centStruct(centIdOrd).nullable
  private lazy val cvecNullable: Boolean = centStruct(cvecOrd).nullable
  private lazy val cnrmNullable: Boolean = centStruct(cnrmOrd).nullable
  private lazy val centEntryNullable: Boolean = centsType.containsNull
  private lazy val cvecType: ArrayType =
    centStruct(cvecOrd).dataType.asInstanceOf[ArrayType]
  private lazy val vecType: ArrayType = vec.dataType.asInstanceOf[ArrayType]
  private lazy val cvecElemFloat: Boolean = cvecType.elementType == FloatType
  private lazy val vecElemFloat: Boolean = vecType.elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def floatish(t: DataType) = t == FloatType || t == DoubleType
    cents.dataType match {
      case ArrayType(s: StructType, _)
          if s.fieldNames.contains("cent_id") && s.fieldNames.contains("cvec") &&
            s.fieldNames.contains("cnrm") &&
            s(s.fieldIndex("cent_id")).dataType == LongType &&
            s(s.fieldIndex("cnrm")).dataType == DoubleType &&
            (s(s.fieldIndex("cvec")).dataType match {
              case ArrayType(e, _) => floatish(e); case _ => false
            }) =>
        (vec.dataType, nrm.dataType) match {
          case (ArrayType(e, _), DoubleType) if floatish(e) =>
            TypeCheckResult.TypeCheckSuccess
          case (v, n) => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects (ARRAY<STRUCT<cent_id,cvec,cnrm>>, ARRAY<FLOAT|DOUBLE>, " +
              s"DOUBLE), got vec=${v.simpleString}, nrm=${n.simpleString}")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects centroids as ARRAY<STRUCT<cent_id BIGINT, " +
          s"cvec ARRAY<FLOAT|DOUBLE>, cnrm DOUBLE>>, got ${other.simpleString}")
    }
  }

  /** Field nullability mirrors the HOF's `when(...).otherwise(acc)` type
    * unification: the taken branch can carry a null cent_id only when the
    * input struct's can be null; csim in the RESULT is never null (it is
    * either the -2.0 initial or a strictly-compared non-null double). */
  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = centIdNullable),
    StructField("csim", DoubleType, nullable = false)))

  /** Null only when `cents` is null — a null vec/nrm yields the initial
    * accumulator struct, exactly as the HOF fold does. */
  override def nullable: Boolean = cents.nullable

  // ------------------------------ interpreted ------------------------------

  override def eval(input: InternalRow): Any = {
    val centsV = cents.eval(input)
    if (centsV == null) return null
    val ca = centsV.asInstanceOf[ArrayData]
    val vecV = vec.eval(input)
    val nrmV = nrm.eval(input)
    var bestId = -1L
    var bestIdNull = false
    var bestSim = -2.0
    if (vecV != null && nrmV != null) {
      val v = vecV.asInstanceOf[ArrayData]
      val vn = v.numElements()
      val q = nrmV.asInstanceOf[Double]
      val n = ca.numElements()
      var ci = 0
      while (ci < n) {
        var skip = centEntryNullable && ca.isNullAt(ci)
        if (!skip) {
          val c = ca.getStruct(ci, centStruct.size)
          skip = (cvecNullable && c.isNullAt(cvecOrd)) ||
            (cnrmNullable && c.isNullAt(cnrmOrd))
          if (!skip) {
            val cv = c.getArray(cvecOrd)
            if (cv.numElements() != vn) skip = true
            else {
              var dot = 0.0
              var i = 0
              while (i < vn && !skip) {
                if ((vecType.containsNull && v.isNullAt(i)) ||
                    (cvecType.containsNull && cv.isNullAt(i))) skip = true
                else {
                  val x = if (vecElemFloat) v.getFloat(i).toDouble else v.getDouble(i)
                  val y = if (cvecElemFloat) cv.getFloat(i).toDouble else cv.getDouble(i)
                  dot += x * y
                  i += 1
                }
              }
              if (!skip) {
                val div = q * c.getDouble(cnrmOrd)
                if (div == 0.0) {
                  if (failOnError) throw NearestCentroid.divideByZero()
                } else {
                  val csim = dot / div
                  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                      .compareDoubles(csim, bestSim) > 0) {
                    bestSim = csim
                    bestIdNull = centIdNullable && c.isNullAt(centIdOrd)
                    bestId = if (bestIdNull) -1L else c.getLong(centIdOrd)
                  }
                }
              }
            }
          }
        }
        ci += 1
      }
    }
    val out = new Array[Any](2)
    out(0) = if (bestIdNull) null else bestId
    out(1) = bestSim
    new GenericInternalRow(out)
  }

  // -------------------------------- codegen --------------------------------

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsGen = cents.genCode(ctx)
    val vecGen = vec.genCode(ctx)
    val nrmGen = nrm.genCode(ctx)
    val rowCls = classOf[GenericInternalRow].getName
    val irCls = classOf[InternalRow].getName
    val adCls = classOf[ArrayData].getName
    val ordUtil = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil"
    val ncCls = NearestCentroid.getClass.getName.stripSuffix("$")

    val ca = ctx.freshName("ca"); val v = ctx.freshName("v")
    val q = ctx.freshName("q"); val vn = ctx.freshName("vn")
    val n = ctx.freshName("n"); val ci = ctx.freshName("ci")
    val c = ctx.freshName("c"); val cv = ctx.freshName("cv")
    val dot = ctx.freshName("dot"); val ok = ctx.freshName("ok")
    val i = ctx.freshName("i"); val div = ctx.freshName("div")
    val csim = ctx.freshName("csim")
    val bestId = ctx.freshName("bestId")
    val bestIdNull = ctx.freshName("bestIdNull")
    val bestSim = ctx.freshName("bestSim")
    val out = ctx.freshName("out")

    val xExpr = if (vecElemFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
    val yExpr = if (cvecElemFloat) s"(double) $cv.getFloat($i)" else s"$cv.getDouble($i)"
    val entryGuard =
      if (centEntryNullable) s"if ($ca.isNullAt($ci)) continue;" else ""
    val fieldGuard = {
      val checks = Seq(
        if (cvecNullable) Some(s"$c.isNullAt($cvecOrd)") else None,
        if (cnrmNullable) Some(s"$c.isNullAt($cnrmOrd)") else None).flatten
      if (checks.isEmpty) "" else s"if (${checks.mkString(" || ")}) continue;"
    }
    val elemGuard = {
      val checks = Seq(
        if (vecType.containsNull) Some(s"$v.isNullAt($i)") else None,
        if (cvecType.containsNull) Some(s"$cv.isNullAt($i)") else None).flatten
      if (checks.isEmpty) ""
      else s"if (${checks.mkString(" || ")}) { $ok = false; break; }"
    }
    val zeroDiv =
      if (failOnError) s"if ($div == 0.0) { throw $ncCls.divideByZero(); }"
      else s"if ($div == 0.0) continue;"
    val takeId =
      if (centIdNullable)
        s"""$bestIdNull = $c.isNullAt($centIdOrd);
           |$bestId = $bestIdNull ? -1L : $c.getLong($centIdOrd);""".stripMargin
      else s"$bestIdNull = false; $bestId = $c.getLong($centIdOrd);"

    val code =
      code"""
        |${centsGen.code}
        |boolean ${ev.isNull} = ${centsGen.isNull};
        |$irCls ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${vecGen.code}
        |  ${nrmGen.code}
        |  long $bestId = -1L; boolean $bestIdNull = false; double $bestSim = -2.0;
        |  if (!${vecGen.isNull} && !${nrmGen.isNull}) {
        |    final $adCls $ca = ${centsGen.value};
        |    final $adCls $v = ${vecGen.value};
        |    final double $q = ${nrmGen.value};
        |    final int $vn = $v.numElements();
        |    final int $n = $ca.numElements();
        |    for (int $ci = 0; $ci < $n; $ci++) {
        |      $entryGuard
        |      final $irCls $c = $ca.getStruct($ci, ${centStruct.size});
        |      $fieldGuard
        |      final $adCls $cv = $c.getArray($cvecOrd);
        |      if ($cv.numElements() != $vn) continue;
        |      double $dot = 0.0; boolean $ok = true;
        |      for (int $i = 0; $i < $vn; $i++) {
        |        $elemGuard
        |        $dot += ($xExpr) * ($yExpr);
        |      }
        |      if (!$ok) continue;
        |      final double $div = $q * $c.getDouble($cnrmOrd);
        |      $zeroDiv
        |      final double $csim = $dot / $div;
        |      if ($ordUtil.compareDoubles($csim, $bestSim) > 0) {
        |        $bestSim = $csim;
        |        $takeId
        |      }
        |    }
        |  }
        |  Object[] $out = new Object[2];
        |  $out[0] = $bestIdNull ? null : (Object) $bestId;
        |  $out[1] = $bestSim;
        |  ${ev.value} = new $rowCls($out);
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCentroid {
  /** The ANSI Divide error, reachable only from zero-norm inputs (Spark's
    * own error class would need a QueryContext; the behavioral contract —
    * the query fails loudly under ANSI — is what the fold had). */
  def divideByZero(): ArithmeticException =
    new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero")
}

/**
 * `nearest_code(cbs, sub)` — the PQ sub-quantizer assignment (argmin_code
 * ‖sub − cvec‖²) as a native kernel, bit-identical to the HOF fold it
 * replaces (`Similarity.nearestCodeHof`):
 *
 *   aggregate(cbs, struct(-1 AS code, DoubleMax AS dist), (acc, c) ->
 *     CASE WHEN aggregate(zip_with(sub, c.cvec, (x, y) ->
 *                   (x - y) * (x - y)), 0D, (a, x) -> a + x) < acc.dist
 *          THEN struct(c.code, d) ELSE acc END).code
 *
 * [[NearestCentroid]]'s contract under an L2 objective, minus the
 * division (no ANSI arm): codewords are visited in array order (callers
 * sort by code) and an improvement requires STRICT `<` under the
 * NaN-safe double ordering, so ties keep the LOWEST code — exactly the
 * oracle's `ORDER BY dist, code` row_number; the sub-distance is the
 * left-associated IEEE double sum in index order from 0.0; a null
 * codeword entry, null cvec field, length mismatch, or null element
 * skips that codeword; a null `sub` yields the initial code (-1), a
 * null `cbs` yields null. PQ encode runs this M times per row
 * (M×K×subdim multiply-adds — linear in N but the same interpreted-HOF
 * constant the assignment kernel shed). The per-subspace Lloyd trainer
 * assigns on the driver with its exact replica,
 * `Similarity.nearestCodeLocal`.
 */
final case class NearestCode(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def cbs = left
  private def sub = right

  override def prettyName: String = "nearest_code"

  private lazy val cbsType: ArrayType = cbs.dataType.asInstanceOf[ArrayType]
  private lazy val cbStruct: StructType = cbsType.elementType.asInstanceOf[StructType]
  private lazy val codeOrd: Int = cbStruct.fieldIndex("code")
  private lazy val cvecOrd: Int = cbStruct.fieldIndex("cvec")
  private lazy val cvecNullable: Boolean = cbStruct(cvecOrd).nullable
  private lazy val entryNullable: Boolean = cbsType.containsNull
  private lazy val cvecType: ArrayType =
    cbStruct(cvecOrd).dataType.asInstanceOf[ArrayType]
  private lazy val subType: ArrayType = sub.dataType.asInstanceOf[ArrayType]
  private lazy val cvecElemFloat: Boolean = cvecType.elementType == FloatType
  private lazy val subElemFloat: Boolean = subType.elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def floatish(t: DataType) = t == FloatType || t == DoubleType
    cbs.dataType match {
      case ArrayType(s: StructType, _)
          if s.fieldNames.contains("code") && s.fieldNames.contains("cvec") &&
            s(s.fieldIndex("code")).dataType == IntegerType &&
            (s(s.fieldIndex("cvec")).dataType match {
              case ArrayType(e, _) => floatish(e); case _ => false
            }) =>
        sub.dataType match {
          case ArrayType(e, _) if floatish(e) => TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects sub as ARRAY<FLOAT|DOUBLE>, got ${other.simpleString}")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects codewords as ARRAY<STRUCT<code INT, " +
          s"cvec ARRAY<FLOAT|DOUBLE>>>, got ${other.simpleString}")
    }
  }

  override def dataType: DataType = IntegerType

  /** Null only when `cbs` is null; a null `sub` yields the initial -1,
    * exactly as the fold's `.getField("code")` over the untouched
    * accumulator (whose code field is non-null). The struct's own code
    * field nullability surfaces only through a winning null code. */
  override def nullable: Boolean =
    cbs.nullable || cbStruct(codeOrd).nullable

  override def eval(input: InternalRow): Any = {
    val cbsV = cbs.eval(input)
    if (cbsV == null) return null
    val ca = cbsV.asInstanceOf[ArrayData]
    val subV = sub.eval(input)
    var best: Any = -1
    var bestDist = Double.MaxValue
    if (subV != null) {
      val v = subV.asInstanceOf[ArrayData]
      val vn = v.numElements()
      val n = ca.numElements()
      var ci = 0
      while (ci < n) {
        var skip = entryNullable && ca.isNullAt(ci)
        if (!skip) {
          val c = ca.getStruct(ci, cbStruct.size)
          skip = cvecNullable && c.isNullAt(cvecOrd)
          if (!skip) {
            val cv = c.getArray(cvecOrd)
            if (cv.numElements() != vn) skip = true
            else {
              var d = 0.0
              var i = 0
              while (i < vn && !skip) {
                if ((subType.containsNull && v.isNullAt(i)) ||
                    (cvecType.containsNull && cv.isNullAt(i))) skip = true
                else {
                  val x = if (subElemFloat) v.getFloat(i).toDouble else v.getDouble(i)
                  val y = if (cvecElemFloat) cv.getFloat(i).toDouble else cv.getDouble(i)
                  val diff = x - y
                  d += diff * diff
                  i += 1
                }
              }
              if (!skip && org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                  .compareDoubles(d, bestDist) < 0) {
                bestDist = d
                best = if (cbStruct(codeOrd).nullable && c.isNullAt(codeOrd)) null
                  else c.getInt(codeOrd)
              }
            }
          }
        }
        ci += 1
      }
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbsGen = cbs.genCode(ctx)
    val subGen = sub.genCode(ctx)
    val irCls = classOf[InternalRow].getName
    val adCls = classOf[ArrayData].getName
    val ordUtil = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil"

    val ca = ctx.freshName("ca"); val v = ctx.freshName("v")
    val vn = ctx.freshName("vn"); val n = ctx.freshName("n")
    val ci = ctx.freshName("ci"); val c = ctx.freshName("c")
    val cv = ctx.freshName("cv"); val d = ctx.freshName("d")
    val ok = ctx.freshName("ok"); val i = ctx.freshName("i")
    val diff = ctx.freshName("diff")
    val best = ctx.freshName("best"); val bestNull = ctx.freshName("bestNull")
    val bestDist = ctx.freshName("bestDist")

    val xExpr = if (subElemFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
    val yExpr = if (cvecElemFloat) s"(double) $cv.getFloat($i)" else s"$cv.getDouble($i)"
    val entryGuard =
      if (entryNullable) s"if ($ca.isNullAt($ci)) continue;" else ""
    val fieldGuard =
      if (cvecNullable) s"if ($c.isNullAt($cvecOrd)) continue;" else ""
    val elemGuard = {
      val checks = Seq(
        if (subType.containsNull) Some(s"$v.isNullAt($i)") else None,
        if (cvecType.containsNull) Some(s"$cv.isNullAt($i)") else None).flatten
      if (checks.isEmpty) ""
      else s"if (${checks.mkString(" || ")}) { $ok = false; break; }"
    }
    val takeCode =
      if (cbStruct(codeOrd).nullable)
        s"""$bestNull = $c.isNullAt($codeOrd);
           |$best = $bestNull ? -1 : $c.getInt($codeOrd);""".stripMargin
      else s"$bestNull = false; $best = $c.getInt($codeOrd);"

    val code =
      code"""
        |${cbsGen.code}
        |boolean ${ev.isNull} = ${cbsGen.isNull};
        |int ${ev.value} = -1;
        |if (!${ev.isNull}) {
        |  ${subGen.code}
        |  int $best = -1; boolean $bestNull = false;
        |  double $bestDist = Double.MAX_VALUE;
        |  if (!${subGen.isNull}) {
        |    final $adCls $ca = ${cbsGen.value};
        |    final $adCls $v = ${subGen.value};
        |    final int $vn = $v.numElements();
        |    final int $n = $ca.numElements();
        |    for (int $ci = 0; $ci < $n; $ci++) {
        |      $entryGuard
        |      final $irCls $c = $ca.getStruct($ci, ${cbStruct.size});
        |      $fieldGuard
        |      final $adCls $cv = $c.getArray($cvecOrd);
        |      if ($cv.numElements() != $vn) continue;
        |      double $d = 0.0; boolean $ok = true;
        |      for (int $i = 0; $i < $vn; $i++) {
        |        $elemGuard
        |        final double $diff = ($xExpr) - ($yExpr);
        |        $d += $diff * $diff;
        |      }
        |      if (!$ok) continue;
        |      if ($ordUtil.compareDoubles($d, $bestDist) < 0) {
        |        $bestDist = $d;
        |        $takeCode
        |      }
        |    }
        |  }
        |  ${ev.isNull} = $bestNull;
        |  ${ev.value} = $best;
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCode =
    copy(left = newLeft, right = newRight)
}
