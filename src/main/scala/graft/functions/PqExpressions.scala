package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native expressions for centroid models (k-means assignment, product
  * quantization). The model rides the expression as a REFERENCE OBJECT,
  * not as literal trees: the declarative formulations (`transform` over
  * an array of k struct literals, `element_at` into an m×k nested
  * literal) analyze and optimize O(model size) Catalyst nodes on the
  * driver for every plan built — for PQ training that is a fresh
  * multi-hundred-node tree per Lloyd's iteration, and it dominated the
  * trained-PQ wall time at small corpus sizes (plan work, not data
  * work). A reference object is one node regardless of k·dim, and the
  * generated code is identical across model VALUES, so janino's cache
  * hits across iterations and datasets.
  */
object PqKernels {

  /** Argmin cell over centroids sorted ascending by cell id; strict <
    * keeps the first (= lowest cell) on distance ties — exactly
    * `array_min` over (distance, cell) structs. */
  def nearestCell(v: Array[Float], cents: Array[Array[Float]],
      cells: Array[Long]): Long = {
    var bestD = Double.PositiveInfinity
    var bestCell = cells(0)
    var c = 0
    while (c < cents.length) {
      val d = VectorKernels.l2(v, cents(c))
      if (d < bestD) { bestD = d; bestCell = cells(c) }
      c += 1
    }
    bestCell
  }

  private def sliceL2(v: Array[Float], off: Int, cent: Array[Float]): Double = {
    val avail = math.min(cent.length, v.length - off)
    if (avail != cent.length)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $avail vs ${cent.length}")
    var acc = 0.0
    var i = 0
    while (i < cent.length) {
      val t = v(off + i).toDouble - cent(i).toDouble
      acc += t * t
      i += 1
    }
    math.sqrt(acc)
  }

  /** Per-subspace argmin codes, one pass, no slice allocation. */
  def pqEncode(v: Array[Float], sub: Int, cents: Array[Array[Array[Float]]],
      cells: Array[Array[Long]]): Array[Int] = {
    val m = cents.length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * sub
      var bestD = Double.PositiveInfinity
      var bestCell = cells(j)(0)
      var c = 0
      while (c < cents(j).length) {
        val d = sliceL2(v, off, cents(j)(c))
        if (d < bestD) { bestD = d; bestCell = cells(j)(c) }
        c += 1
      }
      out(j) = bestCell.toInt
      j += 1
    }
    out
  }

  /** Asymmetric squared-L2: Σ_j ‖q_j − centroid_j[code_j]‖². Double
    * addition is NOT associative, so the accumulation GROUPING matters
    * for bit-exactness with the declarative witness: one fold per
    * subspace (ascending elements), then the subspace sums added in
    * ascending j — exactly the witness's per-subspace aggregate
    * followed by reduce(_ + _). */
  def adc(q: Array[Float], codes: ArrayData,
      cb: Array[Array[Array[Double]]], sub: Int): Double = {
    var total = 0.0
    var j = 0
    while (j < cb.length) {
      val cd = cb(j)(codes.getInt(j))
      val off = j * sub
      var acc = 0.0
      var i = 0
      while (i < cd.length) {
        val t = q(off + i).toDouble - cd(i)
        acc += t * t
        i += 1
      }
      total += acc
      j += 1
    }
    total
  }

  /** Exact-int64 argmin cell over integer centroids (cell id = array
    * index); strict < keeps the first (= lowest cell) on distance ties
    * — exactly `array_min` over (d, cell) structs, the declarative
    * `portableCellScores` witness. Fail-fast policy on corrupt input
    * (null component / dimension mismatch), like [[portablePqEncode]]:
    * a quantized vector with holes is an error, not a zero. */
  def nearestCellInt(v: ArrayData, cents: Array[Array[Long]]): Long = {
    val dim = cents(0).length
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_cell_int: vector dimension ${v.numElements()} vs $dim")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"nearest_cell_int: null vector component at index $i")
      q(i) = v.getLong(i)
      i += 1
    }
    var bestD = Long.MaxValue
    var bestC = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0L
      var t = 0
      while (t < dim) {
        val diff = q(t) - cent(t)
        d += diff * diff
        t += 1
      }
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    bestC.toLong
  }

  /** Per-subspace exact-int64 argmin codes for an ALREADY-QUANTIZED
    * vector against a caller-supplied codebook — the kernel twin of
    * the declarative `Ann.portablePqEncodeIntCodesDeclarative` (slice →
    * zip_with squared diff → aggregate sum → array_min struct, ties →
    * lowest code), bit-for-bit on well-formed input, same fail-fast
    * policy as [[portablePqEncode]] on corrupt input. */
  def pqEncodeIntCodes(v: ArrayData, sub: Int,
      cb: Array[Array[Array[Long]]]): Array[Int] = {
    val m = cb.length
    val dim = m * sub
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"pq_encode_int: vector dimension ${v.numElements()} vs $dim")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"pq_encode_int: null vector component at index $i")
      q(i) = v.getLong(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * sub
      var bestD = Long.MaxValue
      var bestC = 0
      var c = 0
      while (c < cb(j).length) {
        val cent = cb(j)(c)
        var d = 0L
        var t = 0
        while (t < sub) {
          val diff = q(off + t) - cent(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    codes
  }

  /** The deterministic integer portable-PQ codebook (single rendering —
    * `Ann.portablePqCodebook` and the DuckDB oracle SQL both derive
    * from this formula): centroid component (j, c, i) =
    * ((37j + 8191c + 127i + 11) mod 2000001) − 10⁶, the same ±10⁶
    * range as the quantized vectors. */
  def portableCodebook(m: Int, k: Int, sub: Int): Array[Array[Array[Long]]] =
    Array.tabulate(m, k, sub)((j, c, i) =>
      ((j * 37L + c * 8191L + i * 127L + 11L) % 2000001L) - 1000000L)

  /** [[portableCodebook]] with the affine term spread by a large prime
    * before the mod. The original formula never wraps at small (m, k,
    * sub) — every component lands in [−10⁶, −0.94·10⁶], all k code
    * centroids nearly coincide, and near-centered RESIDUALS all encode
    * to the same argmin code (an information-free codebook; harmless
    * for the oracle twins s08/s10/s12, which only pin arithmetic, but
    * useless as a SERVING index). ×104729 wraps the term many times
    * over, spreading components across the full ±10⁶ range, so codes
    * actually partition residual space — while staying just as
    * deterministic and engine-reproducible (s17's oracle embeds the
    * same literals). */
  def portableCodebookSpread(m: Int, k: Int, sub: Int): Array[Array[Array[Long]]] =
    Array.tabulate(m, k, sub)((j, c, i) =>
      (((j * 37L + c * 8191L + i * 127L + 11L) * 104729L) % 2000001L)
        - 1000000L)

  /** Integer-exact portable PQ encode: floor(x·10⁶) quantization,
    * int64 squared-L2 per subspace, strict < argmin (ties → lowest
    * code) — the kernel twin of the declarative
    * `Ann.portablePqEncodeDeclarative` column, bit-for-bit. Magnitude
    * bound: |q|,|cent| ≤ ~2·10⁶ → diff² ≤ 1.6·10¹³, × sub × m stays
    * far under 2⁶³ for any realistic dim. */
  def portablePqEncode(v: ArrayData, m: Int, sub: Int,
      cb: Array[Array[Array[Long]]])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val dim = m * sub
    if (v.numElements() < dim)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${v.numElements()} vs $dim")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      // fail fast on null components: getFloat on a null slot silently
      // reads 0.0f, which would diverge from the null-propagating
      // declarative witness — a corrupt embedding is an error, not a
      // zero (same policy as the dimension check above)
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"portable_pq_encode: null vector component at index $i")
      q(i) = math.floor(v.getFloat(i).toDouble * 1000000d).toLong
      i += 1
    }
    val codes = new Array[Int](m)
    var err = 0L
    var j = 0
    while (j < m) {
      val off = j * sub
      var bestD = Long.MaxValue
      var bestC = 0
      var c = 0
      while (c < cb(j).length) {
        val cent = cb(j)(c)
        var d = 0L
        var t = 0
        while (t < sub) {
          val diff = q(off + t) - cent(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      err += bestD
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(codes), err))
  }
}

/** `nearest_cell(array<float>) -> bigint`: id of the L2-nearest
  * centroid (ties → lowest cell id). */
case class NearestCell(child: Expression,
    centroids: Seq[(Long, Array[Float])]) extends UnaryExpression {
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def prettyName: String = "nearest_cell"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $t")
  }

  @transient private lazy val sorted = centroids.sortBy(_._1)
  @transient private lazy val cents: Array[Array[Float]] =
    sorted.map(_._2).toArray
  @transient private lazy val cells: Array[Long] = sorted.map(_._1).toArray

  protected override def nullSafeEval(input: Any): Any =
    PqKernels.nearestCell(
      input.asInstanceOf[ArrayData].toFloatArray(), cents, cells)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ncCents", cents, "float[][]")
    val cellsRef = ctx.addReferenceObj("ncCells", cells, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.nearestCell(" +
        s"$c.toFloatArray(), $centsRef, $cellsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** `pq_encode(array<float>) -> array<int>`: per-subspace nearest-cell
  * codes (= [[NearestCell]] per dim/m slice, cast int). */
case class PqEncodeExpr(child: Expression,
    codebooks: Seq[Seq[(Long, Array[Float])]]) extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $t")
  }

  @transient private lazy val sorted = codebooks.map(_.sortBy(_._1))
  @transient private lazy val cents: Array[Array[Array[Float]]] =
    sorted.map(_.map(_._2).toArray).toArray
  @transient private lazy val cells: Array[Array[Long]] =
    sorted.map(_.map(_._1).toArray).toArray
  private def sub: Int = codebooks.head.head._2.length

  protected override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PqKernels.pqEncode(
      input.asInstanceOf[ArrayData].toFloatArray(), sub, cents, cells))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("pqCents", cents, "float[][][]")
    val cellsRef = ctx.addReferenceObj("pqCells", cells, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PqKernels.pqEncode($c.toFloatArray(), $sub, " +
        s"$centsRef, $cellsRef));")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** `pq_adc(array<float>, array<int>) -> double`: asymmetric squared-L2
  * between a raw query vector and a PQ code array. */
case class PqAdc(left: Expression, right: Expression,
    codebooks: Seq[Seq[(Long, Array[Float])]]) extends BinaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def prettyName: String = "pq_adc"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<int>), got ($l, $r)")
    }

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.sortBy(_._1).map(_._2.map(_.toDouble)).toArray).toArray
  private def sub: Int = codebooks.head.head._2.length

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.adc(a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData], cb, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("adcCb", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqKernels.adc(" +
        s"$a.toFloatArray(), $b, $cbRef, $sub);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `portable_pq_encode(array<float>) -> struct<codes: array<int>,
  * recon_err: bigint>`: the INTEGER-exact portable-PQ encode (s08/s10's
  * oracle-twin arithmetic — floor(x·10⁶) quantize, int64 squared-L2,
  * first-min ties). The declarative formulation builds m·k
  * aggregate(zip_with(...)) subtrees — several hundred Catalyst nodes
  * whose janino compilation dominated s10's wall time at every corpus
  * size (the 10× scale probe, in git history: factor 1.0 at 10× rows
  * = all fixed cost). The
  * kernel is one node; the int codebook rides as a reference object and
  * the generated code is identical across (m, k) VALUES of the same
  * shape, so the codegen cache hits. */
case class PortablePqEncode(child: Expression, m: Int, k: Int, sub: Int)
    extends UnaryExpression {
  require(m > 0 && k > 0 && sub > 0, s"bad shape m=$m k=$k sub=$sub")

  override def prettyName: String = "portable_pq_encode"
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("recon_err", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $t")
  }

  @transient private lazy val cb: Array[Array[Array[Long]]] =
    PqKernels.portableCodebook(m, k, sub)

  protected override def nullSafeEval(input: Any): Any =
    PqKernels.portablePqEncode(input.asInstanceOf[ArrayData], m, sub, cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("ppqCb", cb, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.portablePqEncode(" +
        s"$c, $m, $sub, $cbRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PortablePqEncode =
    copy(child = newChild)
}

/** `nearest_cell_int(array<bigint>) -> bigint`: exact-int64 argmin cell
  * over integer centroids (cell id = array index, ties → lowest). The
  * model rides as a reference object — ONE Catalyst node regardless of
  * k·dim, and the generated code is identical across centroid VALUES,
  * so janino's cache hits across Lloyd's iterations and micro-batches
  * (the declarative witness builds k aggregate/zip_with literal
  * subtrees per plan — a fresh analyze+codegen per iteration, which is
  * pure fixed cost at every corpus size). */
case class NearestCellInt(child: Expression, centroids: Seq[Seq[Long]])
    extends UnaryExpression {
  require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
    "centroids must be non-empty and rectangular")

  override def prettyName: String = "nearest_cell_int"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $t")
  }

  @transient private lazy val cents: Array[Array[Long]] =
    centroids.map(_.toArray).toArray

  protected override def nullSafeEval(input: Any): Any =
    PqKernels.nearestCellInt(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("nciCents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqKernels.nearestCellInt($c, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellInt =
    copy(child = newChild)
}

/** `pq_encode_int(array<bigint>) -> array<int>`: per-subspace exact-
  * int64 argmin codes against a CALLER-SUPPLIED codebook — the trained
  * serving path's encode ([[PortablePqEncode]] carries the formula
  * codebook and quantizes floats; this one takes already-quantized
  * residuals and any deterministic m×k×sub table). The codebook rides
  * as a reference object, so the m·k aggregate/zip_with literal
  * subtrees of the declarative formulation — a fresh multi-hundred-node
  * analyze+codegen per Lloyd's iteration and per publish — collapse to
  * one node with codegen identical across codebook VALUES. */
case class PqEncodeIntExpr(child: Expression, codebook: Seq[Seq[Seq[Long]]])
    extends UnaryExpression {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty) &&
    codebook.forall(_.forall(_.length == codebook.head.head.length)),
    "codebook must be non-empty and rectangular")

  override def prettyName: String = "pq_encode_int"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $t")
  }

  @transient private lazy val cb: Array[Array[Array[Long]]] =
    codebook.map(_.map(_.toArray).toArray).toArray
  private def sub: Int = codebook.head.head.length

  protected override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PqKernels.pqEncodeIntCodes(
      input.asInstanceOf[ArrayData], sub, cb))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqiCb", cb, "long[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PqKernels.pqEncodeIntCodes($c, $sub, $cbRef));")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeIntExpr =
    copy(child = newChild)
}

object PqFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

  def nearestCell(vec: Column, centroids: Seq[(Long, Array[Float])]): Column =
    toCol(NearestCell(toExpr(vec), centroids))
  def nearestCellInt(vec: Column, centroids: Seq[Seq[Long]]): Column =
    toCol(NearestCellInt(toExpr(vec), centroids))
  def pqEncodeInt(vec: Column, codebook: Seq[Seq[Seq[Long]]]): Column =
    toCol(PqEncodeIntExpr(toExpr(vec), codebook))
  def pqEncode(vec: Column, codebooks: Seq[Seq[(Long, Array[Float])]]): Column =
    toCol(PqEncodeExpr(toExpr(vec), codebooks))
  def pqAdc(qvec: Column, codes: Column,
      codebooks: Seq[Seq[(Long, Array[Float])]]): Column =
    toCol(PqAdc(toExpr(qvec), toExpr(codes), codebooks))
  def portablePqEncode(vec: Column, m: Int, k: Int, sub: Int): Column =
    toCol(PortablePqEncode(toExpr(vec), m, k, sub))
}
