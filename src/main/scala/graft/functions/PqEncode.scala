package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization encoder: maps a numeric embedding column
  * to its per-subspace argmin codes against a FIXED codebook —
  * codes[m] = argmin_k round(Σ_i (x[m·D+i] − cb[m][k][i])² · 10⁶), with
  * the strict `<` fold keeping the SMALLEST code on micro-unit ties.
  *
  * Bit-identical to the interpreted higher-order form
  * (SimOps.pqCodesCol) — same strict left-to-right (x−c)² sum,
  * same non-negative half-up micro-rounding (`Math.round` ≡ DuckDB
  * `round` on non-negatives), same tie law — but a first-class Catalyst
  * expression with `doGenCode`, so the encode fuses into whole-stage
  * codegen instead of needing a Dataset API break (the DotProduct
  * precedent; the HOF form measured >25 min at 1M vectors where the
  * compiled loop takes seconds).
  *
  * The codebook travels as a CONSTRUCTOR constant (flattened into the
  * generated class via `addReferenceObj`, like MinHash's permutation
  * tables), NOT as a plan literal the generated code re-walks per row —
  * at 256-code (8-bit) books that is 16K doubles, far past what a
  * literal-walking loop or codegen'd struct comparison tolerates
  * (the ivfLiteralCellBound lesson).
  */
case class PqEncode(child: Expression,
    codebook: Array[Array[Array[Double]]])
    extends UnaryExpression {

  // cb(m)(k)(i): M subspaces × K codes × D dims — validated rectangular
  // at construction so the generated code can index a flat array.
  private val mSub = codebook.length
  private val kCodes = codebook.head.length
  private val dSub = codebook.head.head.length
  require(codebook.forall(mk => mk.length == kCodes &&
    mk.forall(_.length == dSub)), "PQ codebook must be rectangular")

  /** Flattened codebook: entry (m, k, i) at [(m·K + k)·D + i]. */
  private lazy val flat: Array[Double] = {
    val out = new Array[Double](mSub * kCodes * dSub)
    var p = 0
    var m = 0
    while (m < mSub) {
      var k = 0
      while (k < kCodes) {
        System.arraycopy(codebook(m)(k), 0, out, p, dSub)
        p += dSub
        k += 1
      }
      m += 1
    }
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** User-callable SQL surface (`graft_pq_encode`): a non-array or
    * non-float/double embedding child must fail ANALYSIS with a typed
    * message, not a raw ClassCastException out of [[isFloat]]. The
    * subspace geometry (`mSub · dSub` elements) is a runtime property of
    * each row, checked by the fixture requires, not here.
    */
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode requires an array<float> or array<double> " +
          s"embedding, got ${t.catalogString}")
    }

  // stable post-analysis (checkInputDataTypes guarantees the ArrayType);
  // a lazy val so the per-row eval path doesn't re-walk the schema
  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Structural identity on the codebook CONTENTS: raw-array
    * equals/hashCode are reference-based, so two PqEncodes built from
    * equal codebooks would never canonicalize together and plan caching
    * / common-subexpression elimination could never dedupe the
    * (expensive, up-to-16K-double) encode. Shape fields pin the
    * geometry; [[flat]] pins the values.
    */
  override def equals(other: Any): Boolean = other match {
    case p: PqEncode =>
      child == p.child && mSub == p.mSub && kCodes == p.kCodes &&
        dSub == p.dSub && java.util.Arrays.equals(flat, p.flat)
    case _ => false
  }

  override def hashCode(): Int = {
    var h = child.hashCode()
    h = 31 * h + mSub
    h = 31 * h + kCodes
    h = 31 * h + dSub
    31 * h + java.util.Arrays.hashCode(flat)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val f = isFloat
    val codes = new Array[Long](mSub)
    var m = 0
    while (m < mSub) {
      var bestD = Long.MaxValue
      var bestK = -1L
      var k = 0
      while (k < kCodes) {
        val base = (m * kCodes + k) * dSub
        var acc = 0.0
        var i = 0
        while (i < dSub) {
          val x = if (f) v.getFloat(m * dSub + i).toDouble
            else v.getDouble(m * dSub + i)
          val d = x - flat(base + i)
          acc += d * d
          i += 1
        }
        val dm = Math.round(acc * 1e6)
        if (dm < bestD) { bestD = dm; bestK = k.toLong }
        k += 1
      }
      codes(m) = bestK
      m += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", flat, "double[]")
    val get = if (isFloat) "getFloat" else "getDouble"
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, v => {
      val codes = ctx.freshName("codes")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val dm = ctx.freshName("dm")
      val bestD = ctx.freshName("bestD")
      val bestK = ctx.freshName("bestK")
      s"""
         |long[] $codes = new long[$mSub];
         |for (int $m = 0; $m < $mSub; $m++) {
         |  long $bestD = Long.MAX_VALUE;
         |  long $bestK = -1L;
         |  for (int $k = 0; $k < $kCodes; $k++) {
         |    int $base = ($m * $kCodes + $k) * $dSub;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dSub; $i++) {
         |      double $d = ((double) $v.$get($m * $dSub + $i))
         |        - $cbRef[$base + $i];
         |      $acc += $d * $d;
         |    }
         |    long $dm = java.lang.Math.round($acc * 1.0E6);
         |    if ($dm < $bestD) { $bestD = $dm; $bestK = (long) $k; }
         |  }
         |  $codes[$m] = $bestK;
         |}
         |${ev.value} = new $gad($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncode = copy(child = newChild)

  override def prettyName: String = "graft_pq_encode"
}
