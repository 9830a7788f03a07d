package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declarative formulations the codegen expressions replaced, kept as
  * parity references: PipelineSpec asserts [[graft.functions.SeqMeta]]
  * and [[graft.functions.RenderLine]] against them. */
object PipelineReference {

  private val M = 2147483648L // 2^31
  private val A = 1103515245L
  private val C = 12345L

  private def lcg(x: Column): Column = (x * A + C) % M

  /** The pre-round-6 Column chain behind
    * [[TokenSequences.withSequenceColumns]]. */
  def withSequenceColumnsDeclarative(df: DataFrame, seqId: Column): DataFrame = {
    val s = ((seqId % M) * 131071L + 524287L) % M
    val r1 = lcg(s)
    val r2 = lcg(r1)
    val r3 = lcg(r2)
    val nTok = (lit(8) + (r1 % 45) * (r2 % 46)).cast(IntegerType)
    val source = when(r2 % 100 < 45, lit("web"))
      .when(r2 % 100 < 62, lit("books"))
      .when(r2 % 100 < 72, lit("code"))
      .otherwise(concat(lit("src"), (r2 % 17).cast(StringType)))
    val tokens = graft.functions.TokenGen(seqId, nTok)
    df.withColumn("doc_id", graft.functions.DocId(seqId))
      .withColumn("n_tok", nTok)
      .withColumn("tokens", tokens)
      .withColumn("source", source)
      .withColumn("__r3", r3)
  }

  private val monthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** The `format_string` chain behind [[LogPipeline.renderLines]]. */
  def renderLinesFormatString(seqs: DataFrame): DataFrame = {
    val r3 = col("__r3")
    // explicit integer division (Column `/` is double division)
    def idiv(x: Column, d: Long): Column = (x / d).cast(LongType)
    val day = (r3 % 28 + 1).cast(IntegerType)
    val hour = (idiv(r3, 28) % 24).cast(IntegerType)
    val minute = (idiv(r3, 672) % 60).cast(IntegerType)
    val second = (idiv(r3, 40320) % 60).cast(IntegerType)
    val monthIdx = (idiv(r3, 2419200L) % 12).cast(IntegerType)
    val month = element_at(array(monthNames.map(lit): _*), monthIdx + 1)
    val pid = (r3 % 9000 + 1000).cast(IntegerType)
    val node = concat(lit("node"), (r3 % 16).cast(StringType))
    val isAudit = r3 % 37 === 0
    val isBulk = col("n_tok") >= 512
    val line = when(isAudit,
        format_string("AUDIT|%s|%s|%d|ok", col("doc_id"), col("source"), col("n_tok")))
      .when(isBulk,
        format_string("%s %d %02d:%02d:%02d 2024 %s bulk[%d]: batch %s src=%s toks=%d",
          month, day, hour, minute, second, node, pid,
          col("doc_id"), col("source"), col("n_tok")))
      .otherwise(
        format_string("%s %d %02d:%02d:%02d 2024 %s ingest[%d]: sequence %s from %s n_tok=%d",
          month, day, hour, minute, second, node, pid,
          col("doc_id"), col("source"), col("n_tok")))
    seqs.withColumn("line", line)
  }
}
