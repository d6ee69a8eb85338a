package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native wide-SRP band keys: ALL per-band LSH bucket keys of one
  * embedding in a single generated pass — the 256-bit-family analog of
  * [[LshBuckets]], built to kill the banded lane's exploded sketch
  * intermediate (posexplode -> broadcast-join the 64 x sketchBits sign
  * table -> two hash aggregates = |corpus| x dims x sketchBits rows),
  * which was the first-consumer cost every 100 TB sketch pass would pay
  * per run.
  *
  * SEMANTICS ARE BIT-IDENTICAL to the relational spelling (and the
  * DuckDB twins): the same md5("d:b")-derived +-1 hyperplane signs, the
  * same exact integer quantization floor(v * 2^20) (float->double is
  * exact and the scaled product fits a double's mantissa), integer
  * votes summed in dimension order (order-irrelevant for integers), bit
  * b of band floor(b/bandBits) set iff the vote is positive.
  * SimilaritySpec pins the bitwise equality against the retained
  * relational spelling.
  *
  * The sign tensor is NOT an equality field: the case class compares by
  * (child, sketchBits, bandBits) — the tensor is a pure function of
  * sketchBits, rebuilt lazily per JVM from the companion cache — so
  * Catalyst canonicalization and subexpression elimination work (the
  * array-field pitfall ADVICE r9 flagged on LshBuckets). A null element
  * or a dimension count other than 64 yields NULL (the sign matrix is
  * defined on the corpus's 64 dimensions).
  */
case class SrpBandKeys(child: Expression, sketchBits: Int, bandBits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_band_keys expects ARRAY<FLOAT>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  @transient private lazy val signs: Array[Array[Byte]] =
    SrpBandKeys.signTensor(sketchBits)

  override protected def nullSafeEval(input: Any): Any =
    SrpBandKeys.compute(input.asInstanceOf[ArrayData], signs, bandBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SrpBandKeys.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val signsRef = ctx.addReferenceObj("srpSigns", signs, "byte[][]")
    val result = ctx.freshName("bandKeys")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $result =
         |  $helper.compute($c, $signsRef, $bandBits);
         |if ($result == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $result;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBandKeys =
    copy(child = newChild)

  override def prettyName: String = "srp_band_keys"
}

object SrpBandKeys {

  val Dims = 64

  /** bits x 64 sign tensor, cached per width per JVM. Each sign is the
    * md5 parity the relational sign table computes: +1 if the first 15
    * hex chars of md5("d:b") parse to an odd long, else -1 — identical
    * to `TextAnalysis.tokenHash(concat(d, ':', b)) % 2 * 2 - 1` and the
    * DuckDB twins' `('0x' || substr(md5(...), 1, 15))::BIGINT % 2`.
    */
  private val tensorCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()

  def signTensor(sketchBits: Int): Array[Array[Byte]] =
    tensorCache.computeIfAbsent(sketchBits, bits => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(bits, Dims) { (b, d) =>
        md.reset()
        val h = md.digest(s"$d:$b".getBytes("UTF-8"))
          .take(8).map(x => f"${x & 0xff}%02x").mkString.take(15)
        ((java.lang.Long.parseLong(h, 16) % 2L) * 2L - 1L).toByte
      }
    })

  /** Shared eval/codegen kernel: quantize once, then one strict
    * dimension-order integer fold per sketch bit; bit b of band
    * floor(b/bandBits) is set iff the vote is positive. Returns
    * ceil(sketchBits/bandBits) packed band keys.
    */
  def compute(a: ArrayData, signs: Array[Array[Byte]], bandBits: Int): ArrayData = {
    if (a.numElements() != Dims) return null
    val q = new Array[Long](Dims)
    var d = 0
    while (d < Dims) {
      if (a.isNullAt(d)) return null
      q(d) = math.floor(a.getFloat(d).toDouble * LongVec.Scale).toLong
      d += 1
    }
    val bits = signs.length
    val out = new Array[Long]((bits + bandBits - 1) / bandBits)
    var b = 0
    while (b < bits) {
      val row = signs(b)
      var vote = 0L
      var i = 0
      while (i < Dims) { vote += q(i) * row(i); i += 1 }
      if (vote > 0) out(b / bandBits) |= (1L << (b % bandBits))
      b += 1
    }
    new GenericArrayData(out)
  }
}
