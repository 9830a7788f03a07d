package graft.functions


import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector math over embedding columns (`array<float>` or
  * `array<double>`).
  *
  * Why not `aggregate(zip_with(...))`: Spark's higher-order functions
  * evaluate INTERPRETED — per element they box the lambda variables and
  * every arithmetic intermediate. On this 32-thread box the resulting
  * allocation rate made HOF-based token generation scale NEGATIVELY with
  * parallelism (see [[TokenGen]]'s measurements); cosine over 64-dim
  * embeddings is the same pattern on the operator that matters most at
  * 100 TB. These expressions run one tight primitive loop per row with
  * zero allocation.
  */
object VectorOps {
  private[functions] def isFloatArray(e: Expression): Boolean =
    e.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"expected array<float|double>, got $other")
    }
}

/** Deterministic synthetic embedding `(seqId, dims) -> array<float>` in
  * [-1, 1) — the same LCG chain family as [[TokenGen]], codegen'd, one
  * primitive allocation per row. Exists so benchmark corpora of millions
  * of vectors can be generated partition-parallel without the
  * interpreted `transform(sequence(...))` HOF dominating the very
  * measurement the ANN bench is trying to take. */
case class EmbedGen(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "embed_gen"

  override def nullSafeEval(seqId: Any, dims: Any): Any =
    EmbedGen.compute(seqId.asInstanceOf[Long], dims.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seqId, dims) =>
      s"${ev.value} = graft.functions.EmbedGen.compute($seqId, $dims);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EmbedGen {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(seqId: Column, dims: Column): Column =
    Bridge.column(EmbedGen(Bridge.expression(seqId), Bridge.expression(dims)))

  private final val M = 2147483648L

  def compute(seqId: Long, dims: Int): ArrayData = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val out = new Array[Float](if (dims < 0) 0 else dims)
    var j = 0
    while (j < out.length) {
      val u = (s + (j + 1) * 48271L) % M
      val v = u ^ (u >>> 15)
      out(j) = ((((v * 1103515245L + 12345L) % M) % 2000L) - 1000L) / 1000.0f
      j += 1
    }
    new FloatArrayData(out) // zero-copy view; see PrimitiveArrayData
  }
}

/** Cosine similarity of two vectors in double precision, bit-identical
  * to the previous `aggregate(zip_with(a, b, *), 0.0, +)` formulation
  * (same element order, same double accumulation). NULL if either array
  * is NULL, any element is NULL, the lengths differ (zip_with null-pads
  * the shorter array, poisoning the products to NULL), or either side
  * has zero norm (undefined cosine — never NaN). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private lazy val lF = VectorOps.isFloatArray(left)
  private lazy val rF = VectorOps.isFloatArray(right)

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], lF, b.asInstanceOf[ArrayData], rF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double ${ev.value}_r = graft.functions.CosineSim.compute($a, $lF, $b, $rF);
      |if (${ev.value}_r == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      |""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** dot(a,b) / (|a| * |b|); null on null elements, a length mismatch
    * (zip_with parity — it null-pads the shorter side), or a zero-norm
    * side (cosine undefined; 0/0 = NaN would otherwise rank GREATEST in
    * Spark's double ordering and poison any top-k over the scores). */
  def compute(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) return null
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

/** Deterministic random-hyperplane sign material for LSH signatures —
  * splitmix64-style mix of (table, plane, dim), parity bit. The
  * expression that consumed this per row lives on as
  * [[LshCandidates]]'s map-side probe (the signature-column form was
  * superseded by it and removed); [[LshQueryIndex.build]] materializes
  * the [table][plane][dim] matrices once per index. */
object LshSignature {
  /** Deterministic ±1 for (table, plane, dim). Public so specs can
    * cross-check the sign material. */
  def sign(table: Int, plane: Int, dim: Int): Double = {
    var h = table * 0x9E3779B97F4A7C15L ^ plane * 0xC2B2AE3D27D4EB4FL ^
      dim * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    if ((h & 1L) == 0L) 1.0 else -1.0
  }
}
