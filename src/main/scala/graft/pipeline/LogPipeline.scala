package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.parse.Extractor

/** The north-rule pipeline (BASELINE.json): typed Dataset
  * parse → enrich → route → aggregate over pre-tokenized training
  * sequences, re-expressing the reference's SQL-over-raw-lines model
  * (regex EXTRACT tables → WHERE → GROUP BY, reference
  * `src/data_model.rs` + `src/execution/`) as a partition-parallel
  * Catalyst pipeline.
  *
  * Stages:
  *  1. render  — each sequence row carries a deterministic log line in
  *               one of three shapes (ingest / bulk / audit), so the
  *               parse stage has real extraction work;
  *  2. parse   — the [[Extractor]] pattern bank (one compiled regex per
  *               shape, executed once per line) extracts typed fields;
  *               the matched pattern class is the routing key;
  *  3. enrich  — broadcast hash join against the ~20-row source
  *               dimension (reference J1/J2, `src/execution/join.rs`),
  *               left-outer so unknown sources survive with NULL region;
  *  4. route   — fan out to per-sink tables keyed on matched pattern,
  *               with explicit salted repartitioning to defuse the hot
  *               `web` source (≈45% of rows);
  *  5. aggregate — per-sink grouped aggregates (reference A0-A14).
  */
object LogPipeline {

  // ---------------------------------------------------------------- render

  /** Line-class rule (disjoint, priority audit > bulk > ingest):
    * audit = __r3 % 37 == 0 (~2.7%), bulk = n_tok >= 512, else ingest.
    *
    * Rendered by the codegen [[graft.functions.RenderLine]] expression —
    * byte-identical to the `format_string` chain it replaced (kept in test
    * sources as `PipelineReference.renderLinesFormatString`), which
    * allocated a `java.util.Formatter` + boxed args per row: pure
    * memory-bus churn the wide parallelism level pays twice (GC +
    * bandwidth), i.e. exactly the shared resource limiting N→4N scaling
    * on one host. */
  def renderLines(seqs: DataFrame): DataFrame =
    seqs.withColumn("line", graft.functions.RenderLine(
      col("doc_id"), col("source"), col("n_tok"), col("__r3")))

  // ----------------------------------------------------------------- parse

  private val tsGroups = "([A-Z][a-z]{2}) (\\d+) (\\d+):(\\d+):(\\d+) (\\d{4})"
  val ingestRegex: String =
    s"^$tsGroups (\\S+) ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)$$"
  val bulkRegex: String =
    s"^$tsGroups (\\S+) bulk\\[(\\d+)\\]: batch (doc-\\d+) src=(\\S+) toks=(\\d+)$$"
  val auditRegex: String = "^AUDIT\\|(doc-\\d+)\\|(\\S+)\\|(\\d+)\\|(\\w+)$"

  private def gi(i: Int) = ColumnSource.Group("p_ingest", i)
  private def gb(i: Int) = ColumnSource.Group("p_bulk", i)
  private def ga(i: Int) = ColumnSource.Group("p_audit", i)

  /** The extraction schema, exactly the reference's CREATE TABLE shape:
    * three patterns in the bank, BOOLEAN group-existence columns for the
    * matched class, timestamp composition with month names (E3). */
  val tableDef: TableDef = TableDef("seqlog",
    patterns = Seq(
      PatternDef("p_ingest", ingestRegex),
      PatternDef("p_bulk", bulkRegex),
      PatternDef("p_audit", auditRegex)),
    columns = Seq(
      ColumnDef("is_ingest", ValueType.BoolT, gi(0)),
      ColumnDef("is_bulk", ValueType.BoolT, gb(0)),
      ColumnDef("is_audit", ValueType.BoolT, ga(0)),
      ColumnDef("ingest_doc", ValueType.TextT, gi(9)),
      ColumnDef("bulk_doc", ValueType.TextT, gb(9)),
      ColumnDef("audit_doc", ValueType.TextT, ga(1)),
      ColumnDef("ingest_src", ValueType.TextT, gi(10)),
      ColumnDef("bulk_src", ValueType.TextT, gb(10)),
      ColumnDef("audit_src", ValueType.TextT, ga(2)),
      ColumnDef("ingest_n", ValueType.IntT, gi(11)),
      ColumnDef("bulk_n", ValueType.IntT, gb(11)),
      ColumnDef("audit_n", ValueType.IntT, ga(3)),
      // event time composed from (year, monthname, day, h, m, s)
      ColumnDef("ts", ValueType.TimestampT, ColumnSource.TimestampGroups(
        Seq(gi(6), gi(1), gi(2), gi(3), gi(4), gi(5)))),
      ColumnDef("bulk_ts", ValueType.TimestampT, ColumnSource.TimestampGroups(
        Seq(gb(6), gb(1), gb(2), gb(3), gb(4), gb(5))))))

  /** Parse rendered lines into the typed relation + routing key.
    * `carry` columns (e.g. the token payload) ride alongside. */
  def parse(lines: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    Extractor.parse(lines, tableDef, lineCol = "line", carry = carry)
      .withColumn("sink",
        when(col("is_audit"), lit("audit"))
          .when(col("is_bulk"), lit("bulk"))
          .otherwise(lit("ingest")))
      .withColumn("doc_id", coalesce(col("ingest_doc"), col("bulk_doc"), col("audit_doc")))
      .withColumn("source", coalesce(col("ingest_src"), col("bulk_src"), col("audit_src")))
      .withColumn("n_tok", coalesce(col("ingest_n"), col("bulk_n"), col("audit_n")).cast(IntegerType))
      .withColumn("event_ts", coalesce(col("ts"), col("bulk_ts")))
      .drop("ingest_doc", "bulk_doc", "audit_doc", "ingest_src", "bulk_src",
        "audit_src", "ingest_n", "bulk_n", "audit_n", "ts", "bulk_ts")
  }

  // ---------------------------------------------------------------- enrich

  /** Source dimension (~20 rows; FIXTURES.md §A): one fact source is
    * deliberately absent (`src13`) to exercise the left-outer NULL path
    * (reference `src/execution/join.rs:124-139`), and one dim row has no
    * facts (`imagenet`). */
  def sourceDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      ("web", "na", 10), ("books", "eu", 7), ("code", "na", 9),
      ("imagenet", "ap", 1)) ++
      (0 until 17).filter(_ != 13).map(i => (s"src$i", Seq("na", "eu", "ap")(i % 3), i))
    rows.toDF("source", "region", "weight")
  }

  /** DuckDB VALUES-list replica of [[sourceDim]] for oracle SQL. */
  val sourceDimSql: String = {
    val rows = (Seq(("web", "na", 10), ("books", "eu", 7), ("code", "na", 9),
      ("imagenet", "ap", 1)) ++
      (0 until 17).filter(_ != 13).map(i => (s"src$i", Seq("na", "eu", "ap")(i % 3), i)))
      .map { case (s, r, w) => s"('$s','$r',$w)" }.mkString(", ")
    s"source_dim(source, region, weight) AS (SELECT * FROM (VALUES $rows))"
  }

  /** Broadcast hash join against the dimension — the distributed analog
    * of the reference's fully-materialized in-memory build side (J1). */
  def enrich(parsed: DataFrame, dim: DataFrame): DataFrame =
    parsed.join(broadcast(dim), Seq("source"), "left_outer")

  // ----------------------------------------------------------------- route

  /** Salt for the hot-source skew: `pmod(hash(doc_id), salts)` spreads
    * the `web` head across `salts` sub-partitions while keeping
    * approximate sink locality for the per-sink writes (SURVEY.md §7.3
    * step 6).
    *
    * The salt count MUST scale with the partition count: distinct keys
    * = sinks x salts, and hash partitioning balances only when keys >>
    * partitions x ln(partitions) — a fixed salt of 16 gave 48 keys over
    * 128 partitions, so birthday-collision stacking made ~4x straggler
    * reduce partitions (measured as the 16-core run's partial-width
    * tail, BASELINE.md round 4). Default 2x partitions keeps the
    * straggler bound ~1.2x at every scale; rows of one sink still land
    * on a bounded partition subset. */
  def salted(routed: DataFrame, partitions: Int, salts: Int = -1): DataFrame = {
    val s = if (salts > 0) salts else math.max(16, 2 * partitions)
    routed.repartition(partitions, col("sink"), pmod(hash(col("doc_id")), lit(s)))
  }

  // ------------------------------------------------------------- aggregate

  /** Per-sink aggregates (the reference's GROUP BY surface: count, sum,
    * avg with integer truncation, count distinct). */
  def sinkAggregates(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("region"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_tok")).as("sum_tok"),
        (sum(col("n_tok")) / count(lit(1))).cast(LongType).as("avg_tok"),
        countDistinct(col("source")).as("nd_src"))

  // ------------------------------------------------------------ end-to-end

  /** Full flow from a sequence table to the routed relation.
    *
    * With `packTransport = true` the token payload crosses the route
    * exchange PACKED to uint16 ([[graft.functions.PackTokens]]) and is
    * unpacked on the reduce side, so callers see the same
    * `array<int32>` column — measured ~32% fewer shuffle bytes than
    * zstd-compressed int32 (pseudo-random ids are entropy-bound to the
    * codec) and the payload skips the compressor entirely. At 100 TB
    * those bytes are the route stage's NIC traffic. It is an OPT-IN
    * because it imposes a vocabulary bound the general API must not:
    * PackTokens fails fast on any token id outside [0, 65535], so only
    * callers whose input contract pins the vocab below 2^16 (the
    * TESTDATA tables, the bench generator) should enable it. Default
    * false: arbitrary int32 vocabularies route unpacked. */
  def parseEnrichRoute(spark: SparkSession, seqs: DataFrame,
      partitions: Int, packTransport: Boolean = false,
      unpackAfter: Boolean = true): DataFrame = {
    // packTransport packs AT THE RENDER SELECT (round 6), not just below
    // the route exchange: the pack then composes directly over the
    // generator expression in the collapsed projection, where the
    // session's [[graft.functions.FusePackedTokenGen]] rule (loaded by
    // [[graft.GraftExtensions]]) rewrites pack_tokens(token_gen(..)) into
    // the fused token_gen_packed — the ~2 KB int-array intermediate per
    // row is never materialized on the map side. Packed-vs-exchange
    // placement is unchanged (pack below, unpack above; PlanQualitySpec).
    val rendered = renderLines(seqs).select(col("line"),
      (if (packTransport) graft.functions.PackTokens(col("tokens"))
       else col("tokens")).as("tokens_in"))
    val parsed = parse(rendered, carry = Seq("tokens_in"))
    val enriched = enrich(parsed, sourceDim(spark))
    if (packTransport) {
      val routed = salted(enriched, partitions)
      // unpackAfter = false keeps `tokens_in` in the uint16 transport
      // encoding (BinaryType) for consumers that can work in the packed
      // domain directly — e.g. an integrity check comparing the
      // transported bytes against a re-packed expectation compares two
      // byte arrays (one memcmp) instead of paying an unpack allocation
      // plus an element-wise int-array comparison per row. PackTokens is
      // injective on the vocab-bounded domain, so packed equality IS
      // token-array equality.
      if (unpackAfter)
        routed.withColumn("tokens_in", graft.functions.UnpackTokens(col("tokens_in")))
      else routed
    } else salted(enriched, partitions)
  }
}
