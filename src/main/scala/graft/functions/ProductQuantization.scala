package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/**
 * Integer-exact product-quantization kernels for the n61 IVF-PQ path — the
 * memory layout a 100 TB ANN deployment actually ships: raw vectors are
 * 64 floats = 256 bytes, PQ codes are `nSub` small ints (8 here), so the
 * scan side of the index shrinks ~30× and the ranking scan reads codes,
 * never vectors. Reference behavior anchor: the reference's embedding
 * fixtures and streaming transforms (`tests/conftest.py`,
 * `src/pyspark_streaming_base/app/app.py`) carry opaque feature columns
 * end to end; the quantized ranking itself is the standard IVF-ADC design
 * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
 * TPAMI 2011), built here with the repo's integer-determinism treatment:
 *
 *   q_i        = floor(x_i · 2^20)                  (exact, see [[QuantizedDots]])
 *   d2[m][c]   = Σ_{i ∈ sub m} (q_i − cb[m][c][i])² (64-bit integer)
 *   code_m     = argmin_c d2[m][c], first index wins ties
 *   adc(codes) = Σ_m lut[m][code_m]                 (lut = query's d2 table)
 *
 * with md5-derived integer codewords (the [[QuantizedDots]] plane
 * construction at codeword scale), so codes and ADC distances rebuild
 * bit-for-bit in the DuckDB oracle — no float summation order anywhere.
 * Overflow headroom: data components sit in ±0.5 ⇒ |q| ≤ 2^19, codewords
 * are constructed in [−2^19, 2^19), so each squared term ≤ 2^40 and a
 * subspace sum of 8 terms ≤ 2^43; the ADC sum of 8 subspaces ≤ 2^46.
 * Callers own the range contract, as with [[DotProduct]].
 */
object ProductQuantization {

  /** `pq_encode(vec)`: array of `nSub` codeword indexes (one per
    * subspace), each the integer-exact argmin over `nCode` codewords. */
  def encode(vec: Column, codebook: Array[Long], subDim: Int, nSub: Int,
             nCode: Int): Column =
    ColumnBridge.column(
      PqEncodeExpr(ColumnBridge.expression(vec), codebook, subDim, nSub, nCode))

  /** `pq_adc(codes)`: the asymmetric distance Σ_m lut[m·nCode + code_m]
    * for a fixed (per-query, driver-built) integer lookup table. */
  def adc(codes: Column, lut: Array[Long], nSub: Int, nCode: Int): Column =
    ColumnBridge.column(
      PqAdcExpr(ColumnBridge.expression(codes), lut, nSub, nCode))

  /** `pq_sdc(codesA, codesB)`: the SYMMETRIC distance
    * Σ_m pairTable[(m·nCode + a_m)·nCode + b_m] between two code arrays —
    * the batched ranking kernel (Jégou et al. §IV.A): unlike ADC, the
    * lookup table depends only on the CODEBOOK (every codeword pair's
    * squared distance), so one nSub·nCode² plan literal serves every
    * query-candidate pair and the many-query kNN join can rank on codes
    * without ever shipping per-query LUTs or touching raw vectors. */
  def sdc(codesA: Column, codesB: Column, pairTable: Array[Long],
          nSub: Int, nCode: Int): Column =
    ColumnBridge.column(
      PqSdcExpr(ColumnBridge.expression(codesA),
        ColumnBridge.expression(codesB), pairTable, nSub, nCode))

  /** `pq_adc_q(q, codes)`: the ASYMMETRIC distance
    * Σ_m Σ_i (q[m·subDim+i] − cb[(m·nCode + codes_m)·subDim+i])² computed
    * DIRECTLY from the query's integer vector column and the candidate's
    * code array, with the codebook as a plan literal — the join-scale ADC
    * kernel (round-17 verdict #2). [[adc]] needs a per-query LUT built
    * driver-side (one query per plan); [[sdc]] serves the many-query join
    * but quantizes the QUERY side down to codes too, which is measurably
    * noisier shortlist capture (BASELINE round-17: n80 0.6533 vs the
    * 0.7258 probe ceiling that single-query ADC reaches from the same
    * codebook). This kernel keeps the query side exact — nSub·subDim
    * subtract-square-adds per pair (the n60 DotProduct cost class) with
    * no per-row table materialization, so every probe row ranks its
    * candidates at single-query-ADC fidelity inside one distributed
    * join. */
  def adcq(q: Column, codes: Column, codebook: Array[Long], subDim: Int,
           nSub: Int, nCode: Int): Column =
    ColumnBridge.column(
      PqAdcQExpr(ColumnBridge.expression(q), ColumnBridge.expression(codes),
        codebook, subDim, nSub, nCode))

  /** Driver-side twin of [[adcq]] (spec reference). */
  def adcqLocal(q: Array[Long], codes: Array[Int], codebook: Array[Long],
                subDim: Int, nSub: Int, nCode: Int): Long = {
    var sum = 0L
    var m = 0
    while (m < nSub) {
      val off = (m * nCode + codes(m)) * subDim
      var i = 0
      while (i < subDim) {
        val d = q(m * subDim + i) - codebook(off + i)
        sum += d * d
        i += 1
      }
      m += 1
    }
    sum
  }

  /** The SDC pair table for a codebook: entry `(m·nCode + c1)·nCode + c2`
    * is the integer squared distance between codewords (m, c1) and
    * (m, c2) — nSub·nCode² longs, a plan constant (2 KiB at the n61
    * geometry). Driver twin doubles as the spec reference. */
  def pairDistanceTable(codebook: Array[Long], subDim: Int, nSub: Int,
                        nCode: Int): Array[Long] = {
    require(codebook.length == nSub * nCode * subDim,
      s"codebook length ${codebook.length} != ${nSub * nCode * subDim}")
    val out = new Array[Long](nSub * nCode * nCode)
    var m = 0
    while (m < nSub) {
      var c1 = 0
      while (c1 < nCode) {
        var c2 = 0
        while (c2 < nCode) {
          val o1 = (m * nCode + c1) * subDim
          val o2 = (m * nCode + c2) * subDim
          var d2 = 0L
          var i = 0
          while (i < subDim) {
            val d = codebook(o1 + i) - codebook(o2 + i)
            d2 += d * d
            i += 1
          }
          out((m * nCode + c1) * nCode + c2) = d2
          c2 += 1
        }
        c1 += 1
      }
      m += 1
    }
    out
  }

  /** Driver-side twin of the kernel's quantize step (shared scale). */
  def quantize(xs: Seq[Double]): Array[Long] =
    xs.map(x => math.floor(x * QuantizedDots.Scale).toLong).toArray

  /** Driver-side integer subspace-distance table for one quantized vector:
    * `lut(m*nCode + c) = Σ_i (q[m·subDim+i] − cb[(m·nCode+c)·subDim+i])²`.
    * Feeds [[adc]] as a plan literal (one query vector per plan — the
    * n06/n07 single-probe convention) and doubles as the spec reference. */
  def distanceTable(q: Array[Long], codebook: Array[Long], subDim: Int,
                    nSub: Int, nCode: Int): Array[Long] = {
    require(q.length == nSub * subDim,
      s"vector length ${q.length} != nSub*subDim = ${nSub * subDim}")
    require(codebook.length == nSub * nCode * subDim,
      s"codebook length ${codebook.length} != ${nSub * nCode * subDim}")
    val out = new Array[Long](nSub * nCode)
    var m = 0
    while (m < nSub) {
      var c = 0
      while (c < nCode) {
        val off = (m * nCode + c) * subDim
        var d2 = 0L
        var i = 0
        while (i < subDim) {
          val d = q(m * subDim + i) - codebook(off + i)
          d2 += d * d
          i += 1
        }
        out(m * nCode + c) = d2
        c += 1
      }
      m += 1
    }
    out
  }

  /** Driver-side encode (argmin per subspace, first-wins ties) — the spec
    * reference and the probe-vector self-encode. */
  def encodeLocal(q: Array[Long], codebook: Array[Long], subDim: Int,
                  nSub: Int, nCode: Int): Array[Int] = {
    val d2 = distanceTable(q, codebook, subDim, nSub, nCode)
    Array.tabulate(nSub) { m =>
      var best = 0
      var c = 1
      while (c < nCode) {
        if (d2(m * nCode + c) < d2(m * nCode + best)) best = c
        c += 1
      }
      best
    }
  }

  /**
   * TRAINED per-subspace codebooks (Jégou et al. §III: k-means on the
   * subvectors), fully deterministic — farthest-point init from sample
   * point 0 instead of a seeded RNG, a fixed Lloyd iteration count, and
   * centroids rounded back to the integer codeword domain, so the same
   * training sample always yields the same codebook (the repo's
   * no-RNG-anywhere discipline applied to training). Driver-side by
   * design: at 100 TB codebooks train on a BOUNDED sample (here the
   * caller's collected rows; see `AnnLadder.trainedPqCodebook` for the
   * hash-sampled cap) while encode/rank stay distributed — the trained
   * flat array rides the plan exactly like the md5 codebook.
   *
   * Measured motivation (round-15 `ProbePqRecall`, sf0.1): the untrained
   * md5 codebook's bulk recall@5 vs exact cosine is 0.038; this training
   * lifts it to ~0.13 at identical geometry/cost — the ×3.5 gap the
   * round-14 verdict asked to price before shipping a trained variant.
   */
  def trainCodebook(sample: Array[Array[Long]], subDim: Int, nSub: Int,
                    nCode: Int, iters: Int = 10): Array[Long] = {
    require(sample.nonEmpty, "PQ training needs a nonempty sample")
    require(sample.forall(_.length == nSub * subDim),
      "every training vector must have nSub*subDim components")
    val flat = new Array[Long](nSub * nCode * subDim)
    var m = 0
    while (m < nSub) {
      val sub = sample.map(q => q.slice(m * subDim, (m + 1) * subDim))
      val ctr = trainSubCodebook(sub, nCode, iters)
      var c = 0
      while (c < nCode) {
        var i = 0
        while (i < subDim) {
          flat((m * nCode + c) * subDim + i) = ctr(c)(i)
          i += 1
        }
        c += 1
      }
      m += 1
    }
    flat
  }

  /** Lloyd's k-means over integer points: deterministic farthest-point
    * init (point 0 seeds; each next codeword is the point farthest from
    * the chosen set — spreads codewords with no RNG), `iters` update
    * rounds, empty cells keep their previous centroid, result rounded to
    * Long. With fewer distinct points than `k` the duplicate codewords
    * are harmless (argmin takes the first). */
  private[graft] def trainSubCodebook(points: Array[Array[Long]], k: Int,
                                      iters: Int): Array[Array[Long]] = {
    val n = points.length
    val d = points.head.length
    def d2(a: Array[Long], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val df = a(i) - b(i); s += df * df; i += 1 }
      s
    }
    val ctr = Array.ofDim[Double](k, d)
    var i = 0
    while (i < d) { ctr(0)(i) = points(0)(i).toDouble; i += 1 }
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var far = 0; var farD = -1.0
      var p = 0
      while (p < n) {
        val dd = math.min(minD(p), d2(points(p), ctr(c - 1)))
        minD(p) = dd
        if (dd > farD) { farD = dd; far = p }
        p += 1
      }
      i = 0
      while (i < d) { ctr(c)(i) = points(far)(i).toDouble; i += 1 }
      c += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](k, d)
      val cnt = new Array[Long](k)
      var p = 0
      while (p < n) {
        var best = 0; var bestD = Double.MaxValue
        var cc = 0
        while (cc < k) {
          val dd = d2(points(p), ctr(cc))
          if (dd < bestD) { bestD = dd; best = cc }
          cc += 1
        }
        cnt(best) += 1
        i = 0
        while (i < d) { sums(best)(i) += points(p)(i); i += 1 }
        p += 1
      }
      var cc = 0
      while (cc < k) {
        if (cnt(cc) > 0) {
          i = 0
          while (i < d) { ctr(cc)(i) = sums(cc)(i) / cnt(cc); i += 1 }
        }
        cc += 1
      }
      it += 1
    }
    ctr.map(_.map(x => math.round(x)))
  }
}

/**
 * `pq_encode`: per-subspace integer-exact codeword argmin of a
 * double-vector column against a flat codebook (codeword (m, c) occupies
 * `[(m·nCode + c)·subDim, …+subDim)`). Null on null input, null elements
 * (the [[DotProduct]] convention), or a vector whose length is not
 * exactly `nSub·subDim` — the length contract is EXPLICIT (round-14
 * advice): the earlier zero-pad silently disagreed with the DuckDB
 * oracle's join semantics (absent (m, si) rows contribute nothing there,
 * cb² here), so a malformed vector now surfaces as a null code row —
 * which the ranking paths drop ([[graft.ops.AnnLadder.scan]]
 * filters null distances) — instead of a divergent hash.
 * Whole-stage-codegen'd: one fused quantize/encode loop nest.
 */
case class PqEncodeExpr(child: Expression, codebook: Array[Long],
                        subDim: Int, nSub: Int, nCode: Int)
  extends UnaryExpression {

  require(codebook.length == nSub * nCode * subDim,
    s"codebook length ${codebook.length} != nSub*nCode*subDim = ${nSub * nCode * subDim}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<double> argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = nSub * subDim
    if (xs.numElements() != n) return null
    var j = 0
    while (j < n) {
      if (xs.isNullAt(j)) return null
      j += 1
    }
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = math.floor(xs.getDouble(i) * QuantizedDots.Scale).toLong
      i += 1
    }
    val out = new Array[Int](nSub)
    var m = 0
    while (m < nSub) {
      var best = 0
      var bestD2 = Long.MaxValue
      var c = 0
      while (c < nCode) {
        val off = (m * nCode + c) * subDim
        var d2 = 0L
        var k = 0
        while (k < subDim) {
          val d = q(m * subDim + k) - codebook(off + k)
          d2 += d * d
          k += 1
        }
        if (d2 < bestD2) { bestD2 = d2; best = c }
        c += 1
      }
      out(m) = best
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebook", codebook, "long[]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val q = ctx.freshName("q")
      val out = ctx.freshName("out")
      val hasNull = ctx.freshName("hasNull")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val k = ctx.freshName("k")
      val off = ctx.freshName("off")
      val d = ctx.freshName("d")
      val d2 = ctx.freshName("d2")
      val best = ctx.freshName("best")
      val bestD2 = ctx.freshName("bestD2")
      s"""
         |int $n = ${nSub * subDim};
         |boolean $hasNull = $xs.numElements() != $n;
         |for (int $j = 0; !$hasNull && $j < $n; $j++) {
         |  if ($xs.isNullAt($j)) { $hasNull = true; }
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $q = new long[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $q[$i] = (long) java.lang.Math.floor(
         |      $xs.getDouble($i) * ${QuantizedDots.Scale});
         |  }
         |  int[] $out = new int[$nSub];
         |  for (int $m = 0; $m < $nSub; $m++) {
         |    int $best = 0;
         |    long $bestD2 = Long.MAX_VALUE;
         |    for (int $c = 0; $c < $nCode; $c++) {
         |      int $off = ($m * $nCode + $c) * $subDim;
         |      long $d2 = 0L;
         |      for (int $k = 0; $k < $subDim; $k++) {
         |        long $d = $q[$m * $subDim + $k] - $cbRef[$off + $k];
         |        $d2 += $d * $d;
         |      }
         |      if ($d2 < $bestD2) { $bestD2 = $d2; $best = $c; }
         |    }
         |    $out[$m] = $best;
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // content-based equality for the Array field (see [[QuantizedDotsExpr]])
  override def equals(other: Any): Boolean = other match {
    case o: PqEncodeExpr =>
      child == o.child && subDim == o.subDim && nSub == o.nSub &&
        nCode == o.nCode && java.util.Arrays.equals(codebook, o.codebook)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(subDim), Int.box(nSub),
      Int.box(nCode), Int.box(java.util.Arrays.hashCode(codebook)))

  override def prettyName: String = "pq_encode"
}

/**
 * `pq_adc`: the asymmetric PQ distance of a code array against a fixed
 * integer lookup table (`lut[m·nCode + c]` = the query's integer squared
 * distance to codeword (m, c)). Null on null input, null elements, or a
 * code outside `[0, nCode)` (a malformed index row must surface as null,
 * not an ArrayIndexOutOfBounds in generated code). Whole-stage-codegen'd:
 * `nSub` array lookups and adds per row — the scan kernel that replaces
 * a 64-component float dot at ranking time.
 */
case class PqAdcExpr(child: Expression, lut: Array[Long], nSub: Int,
                     nCode: Int)
  extends UnaryExpression {

  require(lut.length == nSub * nCode,
    s"lut length ${lut.length} != nSub*nCode = ${nSub * nCode}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<int> argument, got ${other.simpleString}")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val cs = input.asInstanceOf[ArrayData]
    if (cs.numElements() != nSub) return null
    var sum = 0L
    var m = 0
    while (m < nSub) {
      if (cs.isNullAt(m)) return null
      val c = cs.getInt(m)
      if (c < 0 || c >= nCode) return null
      sum += lut(m * nCode + c)
      m += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("lut", lut, "long[]")
    nullSafeCodeGen(ctx, ev, cs => {
      val sum = ctx.freshName("sum")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val bad = ctx.freshName("bad")
      s"""
         |boolean $bad = $cs.numElements() != $nSub;
         |long $sum = 0L;
         |if (!$bad) {
         |  for (int $m = 0; $m < $nSub; $m++) {
         |    if ($cs.isNullAt($m)) { $bad = true; break; }
         |    int $c = $cs.getInt($m);
         |    if ($c < 0 || $c >= $nCode) { $bad = true; break; }
         |    $sum += $lutRef[$m * $nCode + $c];
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // content-based equality for the Array field (see [[QuantizedDotsExpr]])
  override def equals(other: Any): Boolean = other match {
    case o: PqAdcExpr =>
      child == o.child && nSub == o.nSub && nCode == o.nCode &&
        java.util.Arrays.equals(lut, o.lut)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(nSub), Int.box(nCode),
      Int.box(java.util.Arrays.hashCode(lut)))

  override def prettyName: String = "pq_adc"
}

/**
 * `pq_sdc`: the symmetric PQ distance of two code arrays against a fixed
 * codeword-pair distance table (`table[(m·nCode + c1)·nCode + c2]` = the
 * integer squared distance between codewords (m, c1) and (m, c2)). Null
 * on null input, null elements, wrong arity, or a code outside
 * `[0, nCode)` on either side (the [[PqAdcExpr]] defensive contract,
 * applied to both operands). Whole-stage-codegen'd: `nSub` table lookups
 * and adds per PAIR — the kernel that lets the batched kNN join's
 * verify step scan 8-int code arrays instead of 64-double vectors.
 */
case class PqSdcExpr(left: Expression, right: Expression,
                     table: Array[Long], nSub: Int, nCode: Int)
  extends BinaryExpression {

  require(table.length == nSub * nCode * nCode,
    s"pair table length ${table.length} != nSub*nCode^2 = ${nSub * nCode * nCode}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<int> arguments, got $other")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ca = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    if (ca.numElements() != nSub || cb.numElements() != nSub) return null
    var sum = 0L
    var m = 0
    while (m < nSub) {
      if (ca.isNullAt(m) || cb.isNullAt(m)) return null
      val c1 = ca.getInt(m)
      val c2 = cb.getInt(m)
      if (c1 < 0 || c1 >= nCode || c2 < 0 || c2 >= nCode) return null
      sum += table((m * nCode + c1) * nCode + c2)
      m += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pairTable", table, "long[]")
    nullSafeCodeGen(ctx, ev, (ca, cb) => {
      val sum = ctx.freshName("sum")
      val m = ctx.freshName("m")
      val c1 = ctx.freshName("c1")
      val c2 = ctx.freshName("c2")
      val bad = ctx.freshName("bad")
      s"""
         |boolean $bad = $ca.numElements() != $nSub || $cb.numElements() != $nSub;
         |long $sum = 0L;
         |if (!$bad) {
         |  for (int $m = 0; $m < $nSub; $m++) {
         |    if ($ca.isNullAt($m) || $cb.isNullAt($m)) { $bad = true; break; }
         |    int $c1 = $ca.getInt($m);
         |    int $c2 = $cb.getInt($m);
         |    if ($c1 < 0 || $c1 >= $nCode || $c2 < 0 || $c2 >= $nCode) {
         |      $bad = true; break;
         |    }
         |    $sum += $tRef[($m * $nCode + $c1) * $nCode + $c2];
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  // content-based equality for the Array field (see [[QuantizedDotsExpr]])
  override def equals(other: Any): Boolean = other match {
    case o: PqSdcExpr =>
      left == o.left && right == o.right && nSub == o.nSub &&
        nCode == o.nCode && java.util.Arrays.equals(table, o.table)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(left, right, Int.box(nSub), Int.box(nCode),
      Int.box(java.util.Arrays.hashCode(table)))

  override def prettyName: String = "pq_sdc"
}

/**
 * `pq_adc_q`: the asymmetric PQ distance of a QUERY integer vector column
 * (array<long>, the shared floor(x·2²⁰) quantization) against a candidate
 * code array, with the flat codebook as a plan literal — no per-query LUT
 * anywhere (the join-scale ADC kernel; see [[ProductQuantization.adcq]]).
 * Null on null input, null elements, wrong arity on either side, or a
 * code outside `[0, nCode)` (the [[PqAdcExpr]] defensive contract).
 * Whole-stage-codegen'd: one fused subtract-square-add loop nest of
 * nSub·subDim iterations per pair — the [[DotProduct]] cost class.
 * Overflow headroom: |q| ≤ 2²⁰ (raw ±0.5 components or residuals against
 * per-cell means), codewords in [−2²⁰, 2²⁰) ⇒ each diff < 2²¹, each
 * square < 2⁴², a 64-term sum < 2⁴⁸. Callers own the range contract.
 */
case class PqAdcQExpr(left: Expression, right: Expression,
                      codebook: Array[Long], subDim: Int, nSub: Int,
                      nCode: Int)
  extends BinaryExpression {

  require(codebook.length == nSub * nCode * subDim,
    s"codebook length ${codebook.length} != nSub*nCode*subDim = ${nSub * nCode * subDim}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<int>) arguments, got $other")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    if (q.numElements() != nSub * subDim || cs.numElements() != nSub) return null
    var sum = 0L
    var m = 0
    while (m < nSub) {
      if (cs.isNullAt(m)) return null
      val c = cs.getInt(m)
      if (c < 0 || c >= nCode) return null
      val off = (m * nCode + c) * subDim
      var i = 0
      while (i < subDim) {
        if (q.isNullAt(m * subDim + i)) return null
        val d = q.getLong(m * subDim + i) - codebook(off + i)
        sum += d * d
        i += 1
      }
      m += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebook", codebook, "long[]")
    nullSafeCodeGen(ctx, ev, (q, cs) => {
      val sum = ctx.freshName("sum")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val d = ctx.freshName("d")
      val bad = ctx.freshName("bad")
      s"""
         |boolean $bad = $q.numElements() != ${nSub * subDim} ||
         |  $cs.numElements() != $nSub;
         |long $sum = 0L;
         |if (!$bad) {
         |  for (int $m = 0; $m < $nSub; $m++) {
         |    if ($cs.isNullAt($m)) { $bad = true; break; }
         |    int $c = $cs.getInt($m);
         |    if ($c < 0 || $c >= $nCode) { $bad = true; break; }
         |    int $off = ($m * $nCode + $c) * $subDim;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      if ($q.isNullAt($m * $subDim + $i)) { $bad = true; break; }
         |      long $d = $q.getLong($m * $subDim + $i) - $cbRef[$off + $i];
         |      $sum += $d * $d;
         |    }
         |    if ($bad) { break; }
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  // content-based equality for the Array field (see [[QuantizedDotsExpr]])
  override def equals(other: Any): Boolean = other match {
    case o: PqAdcQExpr =>
      left == o.left && right == o.right && subDim == o.subDim &&
        nSub == o.nSub && nCode == o.nCode &&
        java.util.Arrays.equals(codebook, o.codebook)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(left, right, Int.box(subDim), Int.box(nSub),
      Int.box(nCode), Int.box(java.util.Arrays.hashCode(codebook)))

  override def prettyName: String = "pq_adc_q"
}
