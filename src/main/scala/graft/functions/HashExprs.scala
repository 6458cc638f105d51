package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.graft.ColumnShim

/**
 * Custom Catalyst expressions for signature computation (SURVEY.md §5.3
 * escape hatch, exercised): the composable higher-order-function forms
 * (`transform(sequence(…), i -> array_min(transform(shingles, s ->
 * xxhash64(s, i))))`) are interpreted per lambda invocation — ~6 µs/element,
 * which at 64 hashes × dozens of shingles × millions of docs dominates the
 * whole dedup pipeline. These expressions run the same arithmetic as one
 * compiled per-row loop (Spark's own XXH64 primitive per slot), turning the
 * per-element interpretation cost into a JIT-hot inner loop.
 *
 * Eval is a single tight loop per row (CodegenFallback). Measured
 * (BENCH/BASELINE.md §"doGenCode for HashExprs", 2M rows × ~22 shingles):
 * the fallback boundary DOES exclude the projection from WholeStageCodegen,
 * but per-row cost is the signature arithmetic itself (simhash ≈ 12.5 µs/row vs a 0.15 µs/row pure
 * codegen hash floor), and every production use feeds a Generate
 * (posexplode banding) that bounds the fusion region anyway — so doGenCode
 * would win back only the eval-call boundary, well under 1% here. Deferred
 * with that data; revisit if a fused non-Generate consumer appears.
 */
object HashExprs {

  /** MinHash signature of an array<long> of shingle hashes: out[i] = min_s XXH64(s, seed=i). */
  case class MinHashSigExpr(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData].toLongArray()
      val out = Array.fill(numHashes)(Long.MaxValue)
      var j = 0
      while (j < arr.length) {
        val s = arr(j)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashLong(s, i.toLong)
          if (h < out(i)) out(i) = h
          i += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
  }

  /** 64-bit SimHash of an array<long> of shingle hashes: per-bit ±1 votes, sign → bit. */
  case class SimHashExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr   = input.asInstanceOf[ArrayData].toLongArray()
      val votes = new Array[Int](64)
      var j = 0
      while (j < arr.length) {
        val m = XXH64.hashLong(arr(j), 0x51A7L)
        var i = 0
        while (i < 64) {
          if (((m >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
        j += 1
      }
      var sig = 0L
      var i = 0
      while (i < 64) { if (votes(i) >= 0) sig |= (1L << i); i += 1 }
      java.lang.Long.valueOf(sig)
    }
    override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
  }

  /**
   * Order-sensitive rolling document fingerprint over an array<string> of
   * tokens: acc' = xxhash64(acc, token), acc₀ = 5381 — bit-identical to the
   * higher-order-function form `aggregate(toks, 5381L, (a,t) => xxhash64(a,t))`
   * (Spark's XxHash64 folds each argument with seed 42: long first, then the
   * token's UTF-8 bytes; null tokens fold only the accumulator, matching
   * XxHash64's null-skip), but as one compiled per-row loop instead of an
   * interpreted lambda per element.
   */
  case class FingerprintExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n   = arr.numElements()
      var acc = 5381L
      var i   = 0
      while (i < n) {
        val h = XXH64.hashLong(acc, 42L)
        acc =
          if (arr.isNullAt(i)) h
          else {
            val t = arr.getUTF8String(i)
            XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
          }
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
    override protected def withNewChildInternal(c: Expression): FingerprintExpr = copy(child = c)
  }

  /**
   * Sequential dot product of two numeric arrays as double — bit-identical
   * to the higher-order-function form `aggregate(zip_with(a, b, (x,y) =>
   * x.cast(double)*y.cast(double)), 0.0, (acc,v) => acc+v)` (same
   * left-to-right accumulation order, exact float→double widening, null
   * result on length mismatch or null element — zip_with pads the shorter
   * side with nulls and a null product poisons the fold), but as one
   * compiled per-row loop. The HOF form was measured at ~15 µs per 64-dim
   * cosine across the ANN suite — dominating every similarity query's wall
   * time at per-element lambda-interpretation cost, the same pathology the
   * signature expressions above fixed.
   *
   * Unlike the signature expressions (whose consumers are Generates that
   * bound the fusion region anyway — CodegenFallback deferred with data),
   * DotExpr sits in fused projections and join conditions of the ANN hot
   * path, so it implements REAL `doGenCode`: the per-row loop is emitted
   * into the WholeStageCodegen body instead of an eval() call boundary.
   * Interpreted `nullSafeEval` is kept for non-codegen contexts and is
   * bit-identical (same loop).
   */
  case class DotExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
      case ArrayType(FloatType, _)   => (a, i) => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _)  => (a, i) => a.getDouble(i)
      case ArrayType(LongType, _)    => (a, i) => a.getLong(i).toDouble
      case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
      case other => throw new IllegalArgumentException(s"dot over unsupported type $other")
    }
    /** Java accessor snippet for one element of an array of this type. */
    private def getterJava(dt: DataType, arr: String, i: String): String = dt match {
      case ArrayType(FloatType, _)   => s"(double) $arr.getFloat($i)"
      case ArrayType(DoubleType, _)  => s"$arr.getDouble($i)"
      case ArrayType(LongType, _)    => s"(double) $arr.getLong($i)"
      case ArrayType(IntegerType, _) => s"(double) $arr.getInt($i)"
      case other => throw new IllegalArgumentException(s"dot over unsupported type $other")
    }
    @transient private lazy val getL = getter(left.dataType)
    @transient private lazy val getR = getter(right.dataType)
    override def nullSafeEval(l: Any, r: Any): Any = {
      val la = l.asInstanceOf[ArrayData]
      val ra = r.asInstanceOf[ArrayData]
      val n  = la.numElements()
      if (n != ra.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (la.isNullAt(i) || ra.isNullAt(i)) return null
        acc += getL(la, i) * getR(ra, i)
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (la, ra) => {
        val n    = ctx.freshName("n")
        val i    = ctx.freshName("i")
        val acc  = ctx.freshName("acc")
        val bad  = ctx.freshName("bad")
        s"""
           |final int $n = $la.numElements();
           |if ($n != $ra.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  boolean $bad = false;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($la.isNullAt($i) || $ra.isNullAt($i)) { $bad = true; break; }
           |    $acc += ${getterJava(left.dataType, la, i)} * ${getterJava(right.dataType, ra, i)};
           |  }
           |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
      copy(left = l, right = r)
  }

  def dot_product(a: Column, b: Column): Column =
    ColumnShim.column(DotExpr(ColumnShim.expression(a), ColumnShim.expression(b)))

  /**
   * Top-`top` centroid ids for a vector, by dot product against a fixed
   * centroid matrix (descending dot, ties toward the smaller cid) — one
   * compiled per-row selection loop. The declarative form
   * (`array_sort(transform(sequence(...), i -> struct(-dot, cid)))`) sorts
   * ALL nlist entries per row with an interpreted struct comparator;
   * measured at nlist≈900 that dominated the whole IVF pipeline (~12 min at
   * 200k vectors vs seconds for the candidate join). Selection of `top`
   * out of nlist is O(nlist·dim + nlist·top) per row, all in one loop.
   * CodegenFallback: like the signature expressions, the per-row loop IS
   * the work, and the consumer is an explode (Generate) anyway.
   */
  case class CentroidTopExpr(child: Expression, cents: Array[Array[Double]], top: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
      case ArrayType(FloatType, _)   => (a, i) => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _)  => (a, i) => a.getDouble(i)
      case other => throw new IllegalArgumentException(s"centroid_top over unsupported $other")
    }
    @transient private lazy val get = getter(child.dataType)
    override def nullSafeEval(input: Any): Any = {
      val v   = input.asInstanceOf[ArrayData]
      val dim = v.numElements()
      // dimension mismatch → null, same contract as DotExpr — scoring a
      // common prefix would return a plausible-but-wrong probe list
      if (cents.exists(_.length != dim)) return null
      val k   = math.min(top, cents.length)
      val bestDot = new Array[Double](k)
      val bestCid = new Array[Int](k)
      var filled = 0
      var c = 0
      while (c < cents.length) {
        val plane = cents(c)
        var s = 0.0
        var i = 0
        while (i < dim) { s += get(v, i) * plane(i); i += 1 }
        // insert (s, c): list kept sorted by dot desc; cids arrive ascending,
        // so bubbling only past STRICTLY smaller dots keeps equal-dot ties
        // ordered by smaller cid first — same total order as (−dot, cid)
        if (filled < k) {
          var pos = filled
          while (pos > 0 && bestDot(pos - 1) < s) {
            bestDot(pos) = bestDot(pos - 1); bestCid(pos) = bestCid(pos - 1); pos -= 1
          }
          bestDot(pos) = s; bestCid(pos) = c; filled += 1
        } else if (s > bestDot(k - 1)) {
          var pos = k - 1
          while (pos > 0 && bestDot(pos - 1) < s) {
            bestDot(pos) = bestDot(pos - 1); bestCid(pos) = bestCid(pos - 1); pos -= 1
          }
          bestDot(pos) = s; bestCid(pos) = c
        }
        c += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(bestCid, filled))
    }
    override protected def withNewChildInternal(c: Expression): CentroidTopExpr = copy(child = c)
  }

  def centroid_top(vec: Column, cents: Array[Array[Double]], top: Int): Column =
    ColumnShim.column(CentroidTopExpr(ColumnShim.expression(vec), cents, top))

  /**
   * Two-level centroid routing for hierarchical IVF (the coarse-router
   * variant [[CentroidTopExpr]]'s scaladoc names as the fix for flat IVF's
   * measured-quadratic candidate envelope): per row, rank ALL `coarse`
   * centroids (dot desc, ties toward the smaller index), keep the best
   * `cProbe` coarse groups, then scan ONLY those groups' fine centroids —
   * `fineFlat` holds the fine matrix row-major GROUPED by coarse
   * assignment, `groupOffsets(g)..groupOffsets(g+1)` delimiting group `g`
   * and `fineIds(i)` mapping grouped position → original fine centroid id —
   * and return the global top-`top` fine ids by (dot desc, fine id asc).
   *
   * Per-row cost is nCoarse + cProbe·(nlist/nCoarse) dots instead of the
   * flat nlist, so nlist can grow ~linearly with the corpus (list sizes
   * stay O(1)) while routing stays cheap — the property that removes the
   * N·nProbe·N/nlist quadratic term. Fine values are floats: the matrix
   * ships inside the task binary (one broadcast per stage), and routing
   * only needs a deterministic total order, not double precision — dots
   * still accumulate in double. Dimension mismatch → null (same contract
   * as [[DotExpr]]/[[CentroidTopExpr]]). Determinism: one sequential loop,
   * so two bit-identical vectors ALWAYS produce the identical probe list —
   * the invariant the planted-twin recall oracle rests on.
   * CodegenFallback for the same measured reason as [[CentroidTopExpr]].
   */
  case class CentroidTopGroupedExpr(
      child: Expression,
      coarse: Array[Array[Double]],
      fineFlat: Array[Float],
      fineIds: Array[Int],
      groupOffsets: Array[Int],
      cProbe: Int,
      top: Int)
      extends UnaryExpression with CodegenFallback {
    require(groupOffsets.length == coarse.length + 1 &&
      groupOffsets.head == 0 && groupOffsets.last == fineIds.length,
      "groupOffsets must delimit fineIds per coarse group")
    // the model arrays are plan constants — a mis-assembled model must fail
    // HERE, loudly, not per row (a per-row null would silently empty every
    // ANN result). Only the INPUT vector's dim can vary per row.
    require(cProbe > 0 && top > 0, s"cProbe=$cProbe and top=$top must be positive")
    require(coarse.isEmpty || coarse.forall(_.length == coarse(0).length),
      "coarse centroid rows must share one dimensionality")
    require(fineFlat.length ==
      fineIds.length * (if (coarse.isEmpty) 0 else coarse(0).length),
      s"fineFlat length ${fineFlat.length} != nFine ${fineIds.length} × dim")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
      case ArrayType(FloatType, _)   => (a, i) => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _)  => (a, i) => a.getDouble(i)
      case other => throw new IllegalArgumentException(s"centroid_top_grouped over unsupported $other")
    }
    @transient private lazy val get = getter(child.dataType)
    private val dim = if (coarse.isEmpty) 0 else coarse(0).length
    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      // input-dependent check only: a row whose vector dim differs from the
      // model yields null (same contract as CentroidTopExpr, spec-pinned)
      if (v.numElements() != dim) return null
      val d = v.numElements()
      // level 1: top-cProbe coarse groups (dot desc, smaller index first) —
      // same insertion-selection as CentroidTopExpr
      val kc = math.min(cProbe, coarse.length)
      val cDot = new Array[Double](kc)
      val cIdx = new Array[Int](kc)
      var cFilled = 0
      var c = 0
      while (c < coarse.length) {
        val plane = coarse(c)
        var s = 0.0
        var i = 0
        while (i < d) { s += get(v, i) * plane(i); i += 1 }
        if (cFilled < kc) {
          var pos = cFilled
          while (pos > 0 && cDot(pos - 1) < s) {
            cDot(pos) = cDot(pos - 1); cIdx(pos) = cIdx(pos - 1); pos -= 1
          }
          cDot(pos) = s; cIdx(pos) = c; cFilled += 1
        } else if (s > cDot(kc - 1)) {
          var pos = kc - 1
          while (pos > 0 && cDot(pos - 1) < s) {
            cDot(pos) = cDot(pos - 1); cIdx(pos) = cIdx(pos - 1); pos -= 1
          }
          cDot(pos) = s; cIdx(pos) = c
        }
        c += 1
      }
      // level 2: global top-`top` over the selected groups' fine centroids
      // by (dot desc, fine id asc) — scan order is group order, so ties are
      // resolved by explicit id compare, not arrival order
      val kf = math.min(top, fineIds.length)
      val fDot = new Array[Double](kf)
      val fId  = new Array[Int](kf)
      var fFilled = 0
      var gi = 0
      while (gi < cFilled) {
        val g = cIdx(gi)
        var p = groupOffsets(g)
        val end = groupOffsets(g + 1)
        while (p < end) {
          var s = 0.0
          var i = 0
          val off = p * dim
          while (i < d) { s += get(v, i) * fineFlat(off + i); i += 1 }
          val id = fineIds(p)
          def beats(pos: Int): Boolean =
            fDot(pos) < s || (fDot(pos) == s && fId(pos) > id)
          if (fFilled < kf) {
            var pos = fFilled
            while (pos > 0 && beats(pos - 1)) {
              fDot(pos) = fDot(pos - 1); fId(pos) = fId(pos - 1); pos -= 1
            }
            fDot(pos) = s; fId(pos) = id; fFilled += 1
          } else if (kf > 0 && beats(kf - 1)) {
            var pos = kf - 1
            while (pos > 0 && beats(pos - 1)) {
              fDot(pos) = fDot(pos - 1); fId(pos) = fId(pos - 1); pos -= 1
            }
            fDot(pos) = s; fId(pos) = id
          }
          p += 1
        }
        gi += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(fId, fFilled))
    }
    override protected def withNewChildInternal(c: Expression): CentroidTopGroupedExpr =
      copy(child = c)
  }

  def centroid_top_grouped(vec: Column, coarse: Array[Array[Double]],
                           fineFlat: Array[Float], fineIds: Array[Int],
                           groupOffsets: Array[Int], cProbe: Int, top: Int): Column =
    ColumnShim.column(CentroidTopGroupedExpr(ColumnShim.expression(vec),
      coarse, fineFlat, fineIds, groupOffsets, cProbe, top))

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    ColumnShim.column(MinHashSigExpr(ColumnShim.expression(shingles), numHashes))

  def simhash_sig(shingles: Column): Column =
    ColumnShim.column(SimHashExpr(ColumnShim.expression(shingles)))

  def fingerprint(tokens: Column): Column =
    ColumnShim.column(FingerprintExpr(ColumnShim.expression(tokens)))
}
