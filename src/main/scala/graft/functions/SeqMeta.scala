package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The scalar sequence-metadata tuple
  * `(doc_id, n_tok, source, r3)` of the deterministic generator
  * ([[graft.pipeline.TokenSequences]]) as ONE codegen'd expression —
  * bit-identical to the Column-arithmetic formulation it replaces (same
  * Java `%` remainder semantics, same LCG chain, same `TokenGen` /
  * `DocId` kernels; spec-asserted field-for-field).
  *
  * Why (round 6): the declarative formulation expanded, after
  * CollapseProject, into a single Project whose every output column
  * re-inlined the full LCG chain — `render_line(...)` alone carried four
  * copies — and the fused WholeStageCodegen method for the
  * generate→render→parse stage exceeded the JVM's 8,000-byte
  * `HugeMethodLimit`, so C2 REFUSED TO COMPILE it and the entire map
  * stage of the scaling pipeline ran in the bytecode interpreter
  * (measured: 9.4 s → 0.5 s for the identical 200k-row parse+carry stage
  * when recompilation is forced with `-XX:-DontCompileHugeMethods`).
  * One struct-returning call keeps the generated method small — the
  * chain lives here in compiled Scala, evaluated once per row via
  * codegen subexpression elimination over the `GetStructField` readers.
  *
  * The token ARRAY deliberately stays OUT of the struct (a separate
  * [[TokenGen]] column): Catalyst prunes whole columns but not struct
  * fields of an opaque expression, so bundling tokens here would make
  * every consumer that only needs the scalars (the SQL-path gates, the
  * route aggregates) regenerate a ~500-element array per row that the
  * plan then throws away.
  */
case class SeqMeta(child: Expression) extends UnaryExpression {
  override def dataType: DataType = SeqMeta.schema
  override def prettyName: String = "seq_meta"

  override def nullSafeEval(seqId: Any): Any =
    SeqMeta.compute(seqId.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, seqId =>
      s"${ev.value} = graft.functions.SeqMeta.compute($seqId);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SeqMeta {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(seqId: Column): Column =
    Bridge.column(SeqMeta(Bridge.expression(seqId)))

  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("r3", LongType, nullable = false)))

  private final val M = 2147483648L // 2^31
  private final val A = 1103515245L
  private final val C = 12345L

  private val Web = UTF8String.fromString("web")
  private val Books = UTF8String.fromString("books")
  private val Code = UTF8String.fromString("code")
  // "src0".."src16" interned once — r2 % 17 indexes directly
  private val Srcs: Array[UTF8String] =
    Array.tabulate(17)(i => UTF8String.fromString(s"src$i"))

  /** Identical math to TokenSequences.withSequenceColumns' Column chain
    * (and the DuckDB oracle CTE): Java remainder semantics throughout,
    * so negative seqIds (never produced by the guarded generators) still
    * agree with the Column formulation. */
  def compute(seqId: Long): InternalRow = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val r1 = (s * A + C) % M
    val r2 = (r1 * A + C) % M
    val r3 = (r2 * A + C) % M
    val nTok = (8L + (r1 % 45L) * (r2 % 46L)).toInt // at most 8 + 44 * 45 = 1988
    val srcSel = r2 % 100L
    val source =
      if (srcSel < 45L) Web
      else if (srcSel < 62L) Books
      else if (srcSel < 72L) Code
      else {
        val i = r2 % 17L
        // non-negative r2 indexes the interned table; a (theoretical)
        // negative chain falls back to the same string construction
        if (i >= 0) Srcs(i.toInt) else UTF8String.fromString("src" + i)
      }
    new GenericInternalRow(Array[Any](DocId.compute(seqId), nTok, source, r3))
  }
}
