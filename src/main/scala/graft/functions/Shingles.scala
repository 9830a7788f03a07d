package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of `lower(text)` — the candidate-
  * generation primitive for n-gram Jaccard dedup.
  *
  * Replaces the HOF formulation
  * `array_distinct(filter(transform(sequence(...), i -> array_join(
  * slice(split(lower(text), "\\s+"), i+1, n), " ")), notNull))`, which
  * evaluates interpreted lambdas per shingle per row (the TokenGen
  * lesson: HOFs scale negatively at wide parallelism). One codegen'd
  * scan; bit-identical output:
  *   - tokens = Spark `split(lower(text), "\s+")` semantics (Java regex
  *     split, limit -1): a LEADING empty token when the text starts with
  *     whitespace, a TRAILING empty token when it ends with whitespace,
  *     interior separator runs collapsed;
  *   - shingle i = tokens[i..i+n-1] joined by a single space, for
  *     0 <= i <= max(T-n, 0) with i+n <= T (none when T < n);
  *   - distinct keeps first occurrences in order (array_distinct).
  *   - lowercasing via UTF8String.toLowerCase — the same call Spark's
  *     `lower` makes, so non-ASCII case folding matches too.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.Shingles.compute($input, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {
  import org.apache.spark.sql.graftbridge.Bridge

  def apply(text: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(text), n))

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0B

  /** Called from both interpreted eval and generated code. */
  def compute(text: UTF8String, n: Int): GenericArrayData = {
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length

    // token spans under split("\s+", -1): [start, end) byte offsets;
    // an empty span at the front/back when the text starts/ends with
    // whitespace; split("") == [""] for the empty string
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    if (len == 0) { starts.add(0); ends.add(0) }
    else {
      if (isWs(bytes(0))) { starts.add(0); ends.add(0) }
      var i = 0
      while (i < len) {
        while (i < len && isWs(bytes(i))) i += 1
        if (i < len) {
          val s = i
          while (i < len && !isWs(bytes(i))) i += 1
          starts.add(s); ends.add(i)
        }
      }
      if (isWs(bytes(len - 1))) { starts.add(len); ends.add(len) }
    }

    val t = starts.size()
    if (t < n) return new GenericArrayData(new Array[Any](0))

    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i0 = 0
    while (i0 + n <= t) {
      // shingle bytes: token spans joined by single spaces
      var size = n - 1 // separators
      var j = 0
      while (j < n) { size += ends.get(i0 + j) - starts.get(i0 + j); j += 1 }
      val out = new Array[Byte](size)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { out(pos) = ' '; pos += 1 }
        val s = starts.get(i0 + j); val e = ends.get(i0 + j)
        System.arraycopy(bytes, s, out, pos, e - s)
        pos += e - s
        j += 1
      }
      seen.add(UTF8String.fromBytes(out))
      i0 += 1
    }
    val arr = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}
