package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Deterministic token-array generator `(seqId, nTok) -> array<int>` —
  * the same 31-bit LCG + xor-shift chain as
  * [[graft.pipeline.TokenSequences]] (and its DuckDB oracle CTE), but as
  * a single codegen'd expression with one primitive allocation per row.
  *
  * Why not `transform(sequence(1, n), ...)`: Spark's higher-order
  * functions evaluate *interpreted* — per element they box the lambda
  * variable and every intermediate of the arithmetic chain. At 32
  * local cores the resulting allocation rate makes token generation
  * scale NEGATIVELY with parallelism (GC contention) — measured 10.2s
  * (8 cores) -> 16.8s (32 cores) on 400k rows before this expression,
  * vs linear scaling after.
  */
case class TokenGen(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "token_gen"

  override def nullSafeEval(seqId: Any, nTok: Any): Any =
    TokenGen.compute(seqId.asInstanceOf[Long], nTok.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seqId, nTok) =>
      s"${ev.value} = graft.functions.TokenGen.compute($seqId, $nTok);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `token_gen_packed(seqId, nTok)` — the SAME token chain as [[TokenGen]]
  * emitted directly in the uint16 transport encoding of
  * [[PackTokens]] (little-endian, byte-identical to
  * `pack_tokens(token_gen(seqId, nTok))`, spec-asserted). Exists for
  * integrity checks that compare against the packed transport: the
  * two-step form allocates and round-trips a ~2 KB int array per row
  * that the fused form never materializes. Tokens of a non-negative
  * mixed seed lie in [0, 50257) and always fit; the rest are checked and
  * throw like `pack_tokens`. */
case class TokenGenPacked(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "token_gen_packed"

  override def nullSafeEval(seqId: Any, nTok: Any): Any =
    TokenGen.computePacked(seqId.asInstanceOf[Long], nTok.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (seqId, nTok) =>
      s"${ev.value} = graft.functions.TokenGen.computePacked($seqId, $nTok);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenGenPacked {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(seqId: Column, nTok: Column): Column =
    Bridge.column(TokenGenPacked(Bridge.expression(seqId), Bridge.expression(nTok)))
}

/** Optimizer rule: `pack_tokens(token_gen(s, n))` → `token_gen_packed(s,
  * n)` — bit-identical (spec-asserted) with no ~2 KB int-array
  * intermediate per row. The composition only becomes visible to a rule
  * after CollapseProject merges the generator and transport projections,
  * which is why this is an optimizer rewrite rather than an API-level
  * substitution: callers compose `PackTokens(col("tokens"))` over an
  * arbitrary input column and the fusion fires exactly when that column
  * IS the generator.
  *
  * Enabled in every session by [[graft.GraftExtensions]], which the
  * classpath service file
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`
  * names; no library call has to register it. Disable it per session
  * with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.functions.FusePackedTokenGen`. */
object FusePackedTokenGen
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case PackTokens(TokenGen(seqId, nTok)) => TokenGenPacked(seqId, nTok)
    }
}

object TokenGen {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(seqId: Column, nTok: Column): Column =
    Bridge.column(TokenGen(Bridge.expression(seqId), Bridge.expression(nTok)))

  private final val M = 2147483648L // 2^31
  private final val A = 1103515245L
  private final val C = 12345L
  final val Vocab = 50257L
  // Int twins of A, C and Vocab for the fast path (literals, so they inline)
  private final val Ai = 1103515245
  private final val Ci = 12345
  private final val VocabI = 50257

  /** Identical math to TokenSequences / the DuckDB CTE (seqId reduced
    * mod 2^31 first so arithmetic seq_ids up to 2^53 cannot overflow):
    * s = ((seqId % M)*131071 + 524287) % M; for j = 1..nTok,
    * u = (s + j*48271) % M; v = u ^ (u >>> 15); t = ((v*A + C) % M) % Vocab.
    *
    * Fast path, taken whenever the mixed seed `s` is non-negative (every
    * non-negative seqId, and many negative ones). Exact because, with
    * `s` in [0, 2^31), nothing in the chain is ever negative:
    *  - `s + j*48271` lies in [0, 2^48), so `% M` is `& (M - 1)`, and
    *    consecutive `u` differ by 48271 mod 2^31 — a running add-and-mask,
    *    exact in wrapping `Int` arithmetic because 2^31 divides 2^32;
    *  - `u`, and hence `v = u ^ (u >>> 15)`, lies in [0, 2^31);
    *  - `v*A + C` lies in [0, 2^62), so `% M` keeps its low 31 bits,
    *    which wrapping `Int` arithmetic computes exactly for the same reason;
    *  - the result lies in [0, 2^31), so the vocab modulo runs on an `Int`.
    * A negative `s` (only from negative seqIds) can make `u` negative, and
    * Java's sign-following `%` then differs from a mask: that case keeps
    * the general long-arithmetic loop ([[slowToken]]). */
  def compute(seqId: Long, nTok: Int): ArrayData = {
    val s = seed(seqId)
    val out = new Array[Int](if (nTok < 0) 0 else nTok)
    if (s >= 0) {
      var u = s.toInt
      var i = 0
      while (i < out.length) {
        u = (u + 48271) & 0x7FFFFFFF
        out(i) = fastToken(u)
        i += 1
      }
    } else {
      var j = 1
      while (j <= out.length) { out(j - 1) = slowToken(s, j); j += 1 }
    }
    new IntArrayData(out) // zero-copy view; see PrimitiveArrayData
  }

  /** [[compute]]'s chain written straight into the [[PackTokens]] uint16
    * little-endian encoding — one 2-byte store per token ([[Uint16LE]]),
    * no int array.
    * Fast-path tokens are in [0, Vocab) and always fit; on the general
    * path a negative token throws exactly what `PackTokens.compute`
    * would throw on `compute(seqId, nTok)`, so [[FusePackedTokenGen]] is a
    * pure rewrite on every input. */
  def computePacked(seqId: Long, nTok: Int): Array[Byte] = {
    val s = seed(seqId)
    val n = if (nTok < 0) 0 else nTok
    val out = new Array[Byte](n * 2)
    if (s >= 0) {
      var u = s.toInt
      var j = 0
      while (j < n) {
        u = (u + 48271) & 0x7FFFFFFF
        Uint16LE.put(out, 2 * j, fastToken(u))
        j += 1
      }
    } else {
      var j = 1
      while (j <= n) {
        val t = slowToken(s, j)
        if (t < 0 || t > 0xFFFF) throw PackTokens.outOfRange(t, j - 1)
        Uint16LE.put(out, 2 * (j - 1), t)
        j += 1
      }
    }
    out
  }

  /** Fast-path token for a masked `u` in [0, 2^31). */
  @inline private def fastToken(u: Int): Int =
    (((u ^ (u >>> 15)) * Ai + Ci) & 0x7FFFFFFF) % VocabI

  private def seed(seqId: Long): Long = ((seqId % M) * 131071L + 524287L) % M

  /** Token `j` (1-based) of the chain in general long arithmetic. */
  private def slowToken(s: Long, j: Int): Int = {
    val u = (s + j * 48271L) % M
    val v = u ^ (u >>> 15)
    (((v * A + C) % M) % Vocab).toInt
  }
}
