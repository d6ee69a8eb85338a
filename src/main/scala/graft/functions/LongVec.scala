package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{floor, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native integer-vector kernels for the grid-quantized clustering lane
  * (the long-array siblings of [[DotD]]): `dot_l` = Σ aᵢ·bᵢ and
  * `sqdist_l` = Σ (aᵢ−bᵢ)², both over ARRAY<BIGINT> in index order.
  * The `aggregate(zip_with(...))` HOF spelling they replace is
  * interpreted — two lambda frames and a zipped-array allocation per
  * element per pair — and dominated the SemDeDup pair join at the 10x
  * corpus (207 s cold at k=8, ~50 M pairs × 64 dims). The kernels run
  * inside whole-stage codegen via the shared static method, the
  * ParsePoint/DotD discipline.
  *
  * OVERFLOW SEMANTICS ARE ALWAYS-CHECKED: products and sums go through
  * `Math.multiplyExact`/`addExact` unconditionally, so an overflowing
  * input raises (ArithmeticException) regardless of the
  * `spark.sql.ansi.enabled` flag — matching the HOF spelling when ANSI
  * is on, and STRICTER than it when ANSI is off (the HOF would silently
  * wrap there; a silent wrap would let a too-coarse grid corrupt every
  * gate downstream, so the kernel refuses it either way). Integer sums are
  * order-independent, so no fold-order caveat applies (unlike dot_d).
  * NULL on length mismatch or a null element, like zip_with.
  */
abstract class LongVecBinary extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<BIGINT> args, got ${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  /** The static kernel's method name on the LongVec module. */
  protected def kernel: String

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LongVec.invoke(kernel, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = LongVec.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val result = ctx.freshName("lv")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Long $result = $helper.$kernel($a, $b);
         |if ($result == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $result.longValue();
         |}
       """.stripMargin)
  }
}

case class DotL(left: Expression, right: Expression) extends LongVecBinary {
  override protected def kernel: String = "dotOrNull"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotL =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_l"
}

case class SqDistL(left: Expression, right: Expression) extends LongVecBinary {
  override protected def kernel: String = "sqDistOrNull"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistL =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sqdist_l"
}

/** Native nearest-centroid argmin over a BROADCAST-LITERAL codebook —
  * the k-means assignment kernel for the corpus-scaled k path (k ∝ n,
  * §2.25): one pass over the corpus computing all k distances per row
  * IN REGISTERS, against the crossJoin+min-of-struct spelling's n·k-row
  * amplification through the aggregate (78 M struct rows per pass at
  * the 100x corpus, the dominant term of x144's 200 s). Arguments:
  * (qa, ids, cents) where ids is the ASCENDING cluster-id literal and
  * cents the matching centroid-array literal (non-contiguous ids after
  * a recompute drop empty clusters — the pair encoding carries that).
  * Returns the id of the nearest centroid by exact integer sqdist,
  * ties to the SMALLEST id (strict-improvement scan in id order —
  * exactly min(struct(dist, cluster)))'s order. NULL on empty/ragged
  * codebooks or null elements; overflow raises via the shared
  * always-checked kernel (the LongVecBinary contract).
  */
case class NearestCentroidL(first: Expression, second: Expression,
    third: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _),
          ArrayType(ArrayType(LongType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid_l expects (ARRAY<BIGINT>, ARRAY<BIGINT>, " +
          s"ARRAY<ARRAY<BIGINT>>), got ${a.catalogString}, " +
          s"${b.catalogString}, ${c.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(q: Any, ids: Any, cents: Any): Any =
    LongVec.nearestOrNull(q.asInstanceOf[ArrayData],
      ids.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = LongVec.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val result = ctx.freshName("nc")
    nullSafeCodeGen(ctx, ev, (q, ids, cents) =>
      s"""
         |java.lang.Long $result = $helper.nearestOrNull($q, $ids, $cents);
         |if ($result == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $result.longValue();
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCentroidL =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "nearest_centroid_l"
}

object LongVec {

  /** The 2^-20 grid of every integer-exact vector lane: a coordinate x
    * becomes the BIGINT floor(x · Scale), so grid sums, dots and squared
    * distances are exact integers whatever the summation order or engine;
    * dividing by `Scale` maps a grid quantity back to vector units. The
    * DuckDB twins spell the same step in their SQL.
    */
  val Scale: Double = 1048576.0

  /** `x` (float or double) on the grid, as BIGINT. */
  def quantize(x: Column): Column = floor(x.cast(DoubleType) * lit(Scale)).cast(LongType)

  /** Identity-memoized codebook decode. The codebook reaches the kernel
    * as a constant LITERAL — the very same ArrayData instance on every
    * row — but a literal built from Scala collections is
    * GenericArrayData over BOXED longs, so reading it element-wise per
    * row costs an unboxing virtual call per coordinate: k·d ≈ 25k boxed
    * reads per row, ~5e9 per assignment pass at the 100x corpus — the
    * real residual of x144's 161 s, hiding inside a "codegen'd" kernel.
    * Decode to primitive arrays once per codebook instance (volatile
    * single-slot cache: racy replacement is idempotent, and each task
    * sees one codebook at a time). Returns null for the kernel's NULL
    * cases (empty/ragged id list, null elements).
    */
  @volatile private var centSlot: (ArrayData, ArrayData,
    Array[Long], Array[Array[Long]]) = null

  private def decodeBook(ids: ArrayData,
      cents: ArrayData): (Array[Long], Array[Array[Long]]) = {
    val c = centSlot
    if (c != null && (c._1 eq ids) && (c._2 eq cents)) return (c._3, c._4)
    val k = ids.numElements()
    if (k == 0 || k != cents.numElements()) return null
    val idArr = new Array[Long](k)
    val cArr = new Array[Array[Long]](k)
    var j = 0
    while (j < k) {
      if (ids.isNullAt(j) || cents.isNullAt(j)) return null
      idArr(j) = ids.getLong(j)
      val inner = cents.getArray(j)
      val n = inner.numElements()
      val a = new Array[Long](n)
      var i = 0
      while (i < n) {
        if (inner.isNullAt(i)) return null
        a(i) = inner.getLong(i)
        i += 1
      }
      cArr(j) = a
      j += 1
    }
    centSlot = (ids, cents, idArr, cArr)
    (idArr, cArr)
  }

  /** Argmin cluster id by exact integer sqdist; ids scanned in the
    * given (ascending) order with strict improvement, so ties go to
    * the smallest id — the min(struct(dist, cluster)) rule.
    */
  def nearestOrNull(q: ArrayData, ids: ArrayData,
      cents: ArrayData): java.lang.Long = {
    val dec = decodeBook(ids, cents)
    if (dec == null) return null
    val (idArr, cArr) = dec
    val n = q.numElements()
    val qv = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (q.isNullAt(i)) return null
      qv(i) = q.getLong(i)
      i += 1
    }
    var best = 0L
    var bestD = Long.MaxValue
    var found = false
    var j = 0
    while (j < cArr.length) {
      val b = cArr(j)
      if (b.length != n) return null // ragged vs q: the sqdist NULL rule
      // early exit: the partial sum only grows, and the tie rule is
      // STRICT improvement, so a candidate whose prefix already reaches
      // bestD can never win — typical centroids lose within a few
      // coordinates, cutting the k·d inner work several-fold
      var acc = 0L
      i = 0
      while (i < n && acc < bestD) {
        val d = Math.subtractExact(qv(i), b(i))
        acc = Math.addExact(acc, Math.multiplyExact(d, d))
        i += 1
      }
      if (acc < bestD) {
        bestD = acc; best = idArr(j); found = true
      }
      j += 1
    }
    if (!found) null else java.lang.Long.valueOf(best)
  }

  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def sqDistOrNull(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Eval-path dispatch (codegen calls the kernels directly). */
  def invoke(kernel: String, a: ArrayData, b: ArrayData): java.lang.Long =
    kernel match {
      case "dotOrNull" => dotOrNull(a, b)
      case "sqDistOrNull" => sqDistOrNull(a, b)
    }

  private def builder2(name: String,
      mk: (Expression, Expression) => Expression)(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"$name expects exactly 2 arguments (array<bigint>, array<bigint>), " +
        s"got ${children.length}")
    mk(children.head, children(1))
  }

  def dotBuilder: Seq[Expression] => Expression = builder2("dot_l", DotL.apply)
  def sqDistBuilder: Seq[Expression] => Expression = builder2("sqdist_l", SqDistL.apply)

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dot_l"),
      new ExpressionInfo(classOf[DotL].getName, "dot_l"), dotBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("sqdist_l"),
      new ExpressionInfo(classOf[SqDistL].getName, "sqdist_l"), sqDistBuilder)
  }
}
