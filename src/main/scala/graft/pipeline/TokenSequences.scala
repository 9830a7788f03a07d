package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthesis of the BASELINE input table
  * `(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)`
  * (BASELINE.json input_hint) — pure integer arithmetic (31-bit LCG +
  * xor-shift) so DuckDB can regenerate bit-identical rows for the
  * driver's oracle, and fully Catalyst-expressed (no UDFs, no RDDs) so
  * generation itself is partition-parallel and codegen'd at any scale.
  *
  * Skew is deliberate: `source` has a hot head (`web` ≈ 45% of rows,
  * FIXTURES.md §A) to exercise the route stage's salting.
  */
object TokenSequences {

  val VocabSize = 50257L

  /** Adds doc_id/tokens/n_tok/source columns derived from a 64-bit
    * `seqId` column. The first mixing step reduces seqId mod 2^31 before
    * multiplying so the chain never overflows i64 for ANY 63-bit seqId —
    * required because [[fromLineitem]] derives ids arithmetically (up to
    * ~2^53) and DuckDB errors (rather than wraps) on BIGINT overflow.
    *
    * Since round 6 the whole tuple is ONE codegen'd
    * [[graft.functions.SeqMeta]] call (bit-identical math, spec-asserted
    * against the declarative chain kept in test sources as
    * `PipelineReference.withSequenceColumnsDeclarative`): the previous
    * per-column arithmetic re-inlined the LCG chain into every consumer
    * after CollapseProject and pushed the
    * fused map-stage method over the JVM's 8 KB JIT compile limit — the
    * whole generate→render→parse stage ran INTERPRETED (see SeqMeta's
    * scaladoc for the measurements). The five GetStructField readers
    * below collapse to a single evaluation per row via codegen
    * subexpression elimination. */
  def withSequenceColumns(df: DataFrame, seqId: Column): DataFrame = {
    val meta = graft.functions.SeqMeta(seqId)
    // tokens stay a SEPARATE TokenGen column (not a SeqMeta field):
    // Catalyst prunes whole columns but not struct fields of an opaque
    // expression, and the SQL-path / route-aggregate gates never read
    // tokens — bundled, they would pay a ~500-element array per row.
    df.withColumn("doc_id", meta.getField("doc_id"))
      .withColumn("n_tok", meta.getField("n_tok"))
      .withColumn("tokens", graft.functions.TokenGen(seqId, meta.getField("n_tok")))
      .withColumn("source", meta.getField("source"))
      .withColumn("__r3", meta.getField("r3")) // routing entropy, dropped by callers
  }

  /** Oracle-able variant: sequences derived 1:1 from `lineitem` rows so
    * the driver's DuckDB oracle can regenerate the identical table from
    * the same parquet. `seq_id` is PURE ARITHMETIC over the key columns —
    * `okey*2^35 + lnum*2^32 + pkey*2^14 + skey` — injective whenever
    * lnum<8, pkey<2^18, skey<2^14 (true with 10x headroom at every
    * shipped SF), so generation is fully partition-parallel. The previous
    * formulation (row_number over a GLOBAL window) funneled every
    * downstream parse through one `Exchange SinglePartition` task — the
    * exact plan a 100 TB reviewer rejects; PlanQualitySpec now asserts
    * its absence. */
  def fromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val rawSeqId = (col("l_orderkey") * lit(34359738368L) // 2^35
      + col("l_linenumber") * lit(4294967296L)            // 2^32
      + col("l_partkey") * lit(16384L)                    // 2^14
      + col("l_suppkey")).cast(LongType)
    // Injectivity guard: the arithmetic id is injective only while
    // lnum < 2^3, pkey < 2^18, skey < 2^14. TPC-H-shaped data exceeds
    // pkey = 2^18 around SF 1.3, and a violation is SILENT (both engines
    // compute identical colliding ids, so oracle gates stay green while
    // doc_ids duplicate) — so fail loudly per offending row instead.
    // One codegen'd branch on the tiny pre-expansion key projection.
    val seqId = when(
      col("l_orderkey") >= 268435456L || col("l_orderkey") < 0L // 2^28: okey*2^35 must fit i64
        || col("l_linenumber") >= 8L || col("l_linenumber") < 0L
        || col("l_partkey") >= 262144L || col("l_partkey") < 0L
        || col("l_suppkey") >= 16384L || col("l_suppkey") < 0L,
      raise_error(format_string(
        "TokenSequences.fromLineitem: seq_id key bounds exceeded " +
          "(l_orderkey=%s l_linenumber=%s l_partkey=%s l_suppkey=%s) — " +
          "arithmetic id no longer injective; widen the bit layout",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))))
      .otherwise(rawSeqId)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(seqId.as("seq_id"))
      // The generator EXPANDS ~200x (4 keys in, ~500-token arrays out), so
      // partitioning must follow OUTPUT size, not the (tiny) scan: a 10 MB
      // lineitem file is one scan split, which would serialize the whole
      // render->parse chain onto one task. Shuffling just the 8-byte
      // seq_ids costs ~5 MB and parallelizes the expansion across cores.
      .repartition(spark.sparkContext.defaultParallelism)
    withSequenceColumns(li, col("seq_id"))
      .select("doc_id", "tokens", "n_tok", "source", "__r3")
  }

  /** Scale variant for bench: n rows straight from `spark.range` —
    * embarrassingly parallel, zero input IO, any target size. */
  def synthetic(spark: SparkSession, n: Long, partitions: Int): DataFrame = {
    val base = spark.range(0, n, 1, partitions).select(col("id").as("seq_id"))
    withSequenceColumns(base, col("seq_id"))
      .select("doc_id", "tokens", "n_tok", "source", "__r3")
  }

  /** The DuckDB SQL prelude regenerating the same table from lineitem —
    * prepended (as a CTE) to pipeline oracle queries. */
  val duckdbCte: String =
    """tokenseq AS (
      |  SELECT printf('doc-%012d', seq_id) AS doc_id,
      |         CAST(8 + (r1 % 45) * (r2 % 46) AS INT) AS n_tok,
      |         list_transform(
      |           generate_series(1, CAST(8 + (r1 % 45) * (r2 % 46) AS BIGINT)),
      |           j -> CAST(((xor((s + j * 48271) % 2147483648,
      |                           ((s + j * 48271) % 2147483648) // 32768)
      |                       * 1103515245 + 12345) % 2147483648) % 50257 AS INT)
      |         ) AS tokens,
      |         CASE WHEN r2 % 100 < 45 THEN 'web'
      |              WHEN r2 % 100 < 62 THEN 'books'
      |              WHEN r2 % 100 < 72 THEN 'code'
      |              ELSE 'src' || CAST(r2 % 17 AS VARCHAR) END AS source,
      |         ((r2 * 1103515245 + 12345) % 2147483648) AS __r3
      |  FROM (
      |    SELECT seq_id, s, ((s * 1103515245 + 12345) % 2147483648) AS r1,
      |           ((((s * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345) % 2147483648) AS r2
      |    FROM (
      |      SELECT ((seq_id % 2147483648) * 131071 + 524287) % 2147483648 AS s, seq_id
      |      FROM (SELECT l_orderkey * 34359738368 + l_linenumber * 4294967296
      |                     + l_partkey * 16384 + l_suppkey AS seq_id
      |            FROM lineitem))
      |  )
      |)""".stripMargin
}
