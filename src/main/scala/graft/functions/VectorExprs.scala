package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for similarity search.
  *
  * The HOF formulation `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is an
  * interpreted per-element fold — at dim=64 that is ~130 interpreter
  * dispatches per pair, the dominant cost of brute-force scoring. These
  * expressions run the same left-to-right double accumulation as a fused
  * JVM loop inside whole-stage codegen, so results are bit-identical to
  * the HOF pipeline (and to the DuckDB `list_cosine_similarity` oracle to
  * the extent FP association allows) while scoring at memory bandwidth.
  *
  * Both operands may be array<float> or array<double>; elements are
  * widened to double before multiply, exactly like `x.cast("double")` in
  * the HOF version.
  */
object VectorOps {
  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** NULL propagation parity with the HOF fold this kernel replaced:
    * `aggregate(zip_with(a,b,_*_),0,+)` yields NULL when the lengths
    * differ (zip_with null-pads) or any element is NULL. */
  def badPair(a: ArrayData, b: ArrayData): Boolean = {
    if (a.numElements() != b.numElements()) return true
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Left-to-right dot product in double precision (callers null-check
    * with [[badPair]] first). */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(a, i, aFloat) * get(b, i, bFloat); i += 1 }
    acc
  }

  /** cosine(a, b) = dot / (||a|| * ||b||), one fused pass. The three
    * accumulations each run left-to-right, matching the separate
    * dot/norm/norm folds of the HOF formulation bit-for-bit. */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, aFloat)
      val y = get(b, i, bFloat)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def hasNullElement(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Bit p set iff dot(v, planes(p)) >= 0; up to 64 planes. Dot runs
    * left-to-right in double, same as [[dot]]. */
  def hyperplaneSig(v: ArrayData, vFloat: Boolean,
                    planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(v.numElements(), plane.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += get(v, i, vFloat) * plane(i); i += 1 }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

private[functions] trait VectorBinary extends BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, " +
        s"got ${left.dataType} and ${right.dataType}")
  override def dataType: DataType = DoubleType
  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

/** `vec_dot(a, b)`: double dot product of two numeric arrays. NULL on
  * length mismatch or any NULL element (HOF-fold parity). */
final case class VecDot(left: Expression, right: Expression) extends VectorBinary {
  override def prettyName: String = "vec_dot"
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorOps.badPair(x, y)) null
    else VectorOps.dot(x, isFloat(left), y, isFloat(right))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.VectorOps.badPair($a, $b)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VectorOps.dot(
        $a, ${isFloat(left)}, $b, ${isFloat(right)}); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** `vec_cosine(a, b)`: double cosine similarity of two numeric arrays.
  * NULL on length mismatch or any NULL element (HOF-fold parity). */
final case class VecCosine(left: Expression, right: Expression) extends VectorBinary {
  override def prettyName: String = "vec_cosine"
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorOps.badPair(x, y)) null
    else VectorOps.cosine(x, isFloat(left), y, isFloat(right))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.VectorOps.badPair($a, $b)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VectorOps.cosine(
        $a, ${isFloat(left)}, $b, ${isFloat(right)}); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** `hyperplane_sig(v)`: random-hyperplane LSH bit signature. Bit p of the
  * result is set iff dot(v, planes(p)) >= 0. The plane matrix is a plain
  * constructor constant (not a child expression), so the whole signature —
  * up to 64 hyperplane dot products — is one codegen'd call instead of
  * nPlanes interpreted folds over nPlanes*dim literal nodes. */
final case class HyperplaneSignature(child: Expression,
                                     planes: Seq[Seq[Double]])
    extends UnaryExpression {
  require(planes.nonEmpty && planes.size <= 64,
    s"need 1..64 hyperplanes, got ${planes.size}")
  private lazy val matrix: Array[Array[Double]] =
    planes.map(_.toArray).toArray
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_sig"
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (VectorOps.hasNullElement(v)) null
    else VectorOps.hyperplaneSig(v, isFloat, matrix)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      if (graft.functions.VectorOps.hasNullElement($c)) { ${ev.isNull} = true; }
      else { ${ev.value} =
        graft.functions.VectorOps.hyperplaneSig($c, $isFloat, $ref); }""")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}

/** Column-API entry points for the graft native expressions. */
object F {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def shingleHashes(text: Column, k: Int): Column =
    c(ShingleHashes(e(text), k))
  def shinglePosHashes(text: Column, k: Int): Column =
    c(ShinglePosHashes(e(text), k))
  def shinglePosHashesUpTo(text: Column, maxK: Int): Column =
    c(ShinglePosHashesUpTo(e(text), maxK))
  def scrubSpans(text: Column, starts: Column, k: Int): Column =
    c(ScrubSpans(e(text), e(starts), k))
  def wordHashes(text: Column): Column = c(WordHashes(e(text)))
  def wordsArray(text: Column): Column = c(WordsArray(e(text)))
  /** Word n-grams as strings. NULL-PROPAGATING (ADVICE_r17): null text
    * yields null, unlike the pre-r17 HOF formulation which returned [].
    * Equivalent under explode (both emit zero rows — every current
    * consumer explodes), but a future non-explode consumer must not
    * assume []. */
  def ngramStrings(text: Column, n: Int): Column =
    c(NgramStrings(e(text), n))
  def winnowFps(text: Column, k: Int, w: Int): Column =
    c(WinnowFps(e(text), k, w))
  def subwordCount(text: Column): Column = c(SubwordCount(e(text)))
  def enStopHits(text: Column): Column = c(EnStopHits(e(text)))
  def charClassStats(text: Column): Column = c(CharClassStats(e(text)))
  def minhashSig(hs: Column, seeds: Seq[(Long, Long)], p: Long): Column =
    c(MinHashSig(e(hs), seeds, p))
  def simhash64(hs: Column): Column = c(SimHash64(e(hs)))
  def vecDot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def vecCosine(a: Column, b: Column): Column = c(VecCosine(e(a), e(b)))
  def hyperplaneSig(v: Column, planes: Seq[Seq[Double]]): Column =
    c(HyperplaneSignature(e(v), planes))
  def nfcNormalize(text: Column): Column = c(NfcNormalize(e(text)))
  def langId(text: Column): Column = c(LangId(e(text)))
  def gopherStats(text: Column): Column = c(GopherStats(e(text)))
  def repStats(text: Column): Column = c(RepStats(e(text)))
  def matchSpanFp(ha: Column, hb: Column, fp: Column): Column =
    c(MatchSpanFp(e(ha), e(hb), e(fp)))
  def canonicalizeUrl(url: Column): Column = c(CanonicalizeUrl(e(url)))
  def registrableHost(url: Column): Column = c(RegistrableHost(e(url)))
  def parseNtQuad(line: Column): Column = c(ParseNtQuad(e(line)))
  def warcRecords(raw: Column): Column = c(WarcRecords(e(raw)))
}
