package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{LogPipeline, TokenSequences}
import graft.queries.RelationalQueries

/** Physical-plan quality gates — the 100 TB questions asked of every
  * operator (builder brief): are filters pushed to the scan, are columns
  * pruned, are small joins broadcast, does the hot path stay inside
  * whole-stage codegen, and does the parse stage run each regex ONCE per
  * line rather than once per extracted column. A plan regression here is
  * a silent 10-100x at scale even when results stay correct. */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("filter + projection reach the parquet scan (PushedFilters, pruned ReadSchema)") {
    val df = RelationalQueries.queries("q_filter_project")(spark, dir)
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters: ["), s"no pushdown in:\n$scan")
    assert(scan.contains("GreaterThan(l_quantity") || scan.contains("l_quantity"),
      s"quantity filter not pushed:\n$scan")
    // pruned read: the 11-column lineitem scan must only read the 5
    // referenced columns
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    val nCols = readSchema.split(",").length
    assert(nCols <= 5, s"scan reads $nCols cols: $readSchema")
  }

  test("small-dimension joins are broadcast, not shuffled") {
    Seq("q_join_inner", "q_join_multi").foreach { q =>
      val plan = executedPlan(RelationalQueries.queries(q)(spark, dir))
      assert(plan.contains("BroadcastHashJoin"), s"$q not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q shuffled:\n$plan")
    }
  }

  test("grouped aggregation is 2-phase hash (map-side partial combine)") {
    val plan = executedPlan(RelationalQueries.queries("q1_agg")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("the parse stage evaluates each regex once per line (shared pattern bank)") {
    val seqs = TokenSequences.synthetic(spark, 100L, 2)
    val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
    val plan = parsed.queryExecution.optimizedPlan.toString()
    // 3 patterns in the bank -> exactly 3 regex_captures in the optimized
    // plan; if CollapseProject inlined them per extracted column, this
    // would be ~14 (one per column reference) = regex recompiled per column
    val n = "regex_captures".r.findAllIn(plan).length
    assert(n == 3, s"expected 3 shared regex_captures nodes, found $n:\n$plan")
  }

  test("route exchange ships PACKED tokens: pack below the shuffle, unpack above") {
    // the token payload crosses the route exchange as uint16 binary
    // (PackTokens) and is unpacked on the reduce side — if Catalyst ever
    // collapsed the two projections across the RepartitionByExpression,
    // the shuffle would silently ship 2x the bytes (entropy-bound to the
    // codec) at 100 TB. Plan tree prints top-down: unpack must appear
    // ABOVE the exchange, pack BELOW it.
    val seqs = TokenSequences.synthetic(spark, 100L, 2)
    val plan = executedPlan(LogPipeline.parseEnrichRoute(spark, seqs, 4, packTransport = true))
    val iUnpack = plan.indexOf("unpack_tokens")
    val iExchange = plan.indexOf("Exchange")
    // the pack side is either pack_tokens(...) over an arbitrary input
    // column, or (round 6) the fused token_gen_packed when the column IS
    // the generator — FusePackedTokenGen removes the int-array
    // intermediate. Negative lookbehind: "pack_tokens(" is a substring
    // of "unpack_tokens(".
    val iPack = "(?<!un)pack_tokens\\(|token_gen_packed\\(".r
      .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(iUnpack >= 0 && iExchange >= 0 && iPack >= 0,
      s"pack/unpack/exchange missing from route plan:\n$plan")
    assert(iUnpack < iExchange && iExchange < iPack,
      s"pack/unpack collapsed across the exchange:\n$plan")
    // the synthetic seqs' tokens ARE the generator, so the fusion must
    // actually have fired here
    assert(plan.contains("token_gen_packed"),
      s"FusePackedTokenGen did not fire on the generator input:\n$plan")
  }

  test("the session fuses pack_tokens(token_gen) without any pipeline call") {
    // GraftExtensions is loaded into every session from the classpath
    // service file, so sessions this library does not build (the
    // benchmark's own) get the rule too; excludedRules turns it off
    import graft.functions.{PackTokens, TokenGen}
    def optimized(): String = spark.range(0, 10)
      .select(PackTokens(TokenGen(col("id"), lit(16))).as("p"))
      .queryExecution.optimizedPlan.toString()
    val fused = optimized()
    assert(fused.contains("token_gen_packed(") && !fused.contains("pack_tokens("),
      s"fusion did not fire:\n$fused")
    val plain = withoutTokenFusion(optimized())
    assert(plain.contains("pack_tokens(token_gen(") && !plain.contains("token_gen_packed"),
      s"excludedRules did not disable the fusion:\n$plain")
  }

  test("parse row-match runs as a fenced projection column, not a pushed filter") {
    // Round-6 JIT-limit fix regression guard: expressed as a plain
    // filter, the row-match predicate is pushed into the extraction
    // Project, re-inlining every extraction expression into a
    // FilterExec (no subexpression elimination there) and growing the
    // fused method past the JVM's 8 KB compile limit — the whole map
    // stage then runs interpreted. The plan must keep the fenced
    // __row_match column with the Filter referencing the ATTRIBUTE.
    val seqs = TokenSequences.synthetic(spark, 100L, 2)
    val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
    val plan = parsed.queryExecution.optimizedPlan.toString()
    assert(plan.contains("__row_match"), s"fenced row-match column missing:\n$plan")
    val filterLine = plan.linesIterator.find(_.contains("Filter")).getOrElse("")
    assert(filterLine.contains("__row_match") && !filterLine.contains("element_at"),
      s"row-match filter re-inlined extraction expressions:\n$filterLine")
  }

  test("parse -> aggregate stays inside whole-stage codegen (no fallback)") {
    val seqs = TokenSequences.synthetic(spark, 100L, 2)
    val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
    val agg = parsed.groupBy(col("sink")).count()
    agg.collect() // AQE: the final plan (with codegen ids) exists only post-exec
    val plan = executedPlan(agg)
    // '*(n)' is the WholeStageCodegen marker in simpleString plans
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"no codegen span:\n$plan")
    // the custom RegexCaptures expression must not force interpreted mode
    assert(!plan.contains("CodegenFallback"), s"codegen fallback present:\n$plan")
  }

  test("pipeline enrich broadcasts the dimension and keeps left-outer rows") {
    val seqs = TokenSequences.synthetic(spark, 1000L, 4)
    val parsed = LogPipeline.parse(LogPipeline.renderLines(seqs).select(col("line")))
    val enriched = LogPipeline.enrich(parsed, LogPipeline.sourceDim(spark))
    val plan = executedPlan(enriched)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"enrich not broadcast left-outer:\n$plan")
  }

  test("no gate query funnels through a single-partition exchange") {
    // Round-1 regression guard: TokenSequences.fromLineitem used a GLOBAL
    // row_number window -> `Exchange SinglePartition` -> every oracle-path
    // parse ran on ONE task. seq_id is arithmetic now; nothing in any gate
    // plan may serialize onto a single partition.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = executedPlan(fn(spark, dir))
      if (plan.contains("Exchange SinglePartition")) Some(name) else None
    }
    assert(offenders.isEmpty, s"single-partition exchange in: ${offenders.mkString(", ")}")
  }

  test("exact dedup survivor is a partial-combining aggregate, not a window") {
    // row_number() OVER (PARTITION BY digest) shuffles EVERY copy of a
    // duplicated digest into one task — a viral boilerplate document at
    // corpus scale is a single-task straggler. min(struct(keep, cols))
    // partial-combines map-side: one candidate survivor per (partition,
    // digest) crosses the wire.
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = executedPlan(Dedup.exact(docs, col("text"), col("doc_id")))
    assert(!plan.contains("Window"), s"exact dedup fell back to a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"no map-side partial combine in exact-dedup plan:\n$plan")
  }

  test("no gate plan contains an interpreted higher-order-function node") {
    // Spark HOFs (transform/aggregate/filter/zip_with/...) are
    // CodegenFallback — interpreted per element, negative scaling at
    // wide parallelism. Every one on a measured path was replaced by a
    // codegen expression; this pins ALL gate plans HOF-free. Catalyst
    // prints every HOF's lambda as `lambdafunction(...)`, which is the
    // robust marker (class names never appear in plan strings).
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = executedPlan(fn(spark, dir))
      if (plan.contains("lambdafunction")) Some(name) else None
    }
    assert(offenders.isEmpty, s"interpreted HOFs in gate plans: ${offenders.mkString(", ")}")
  }

  test("near-dup candidate generation never plans a cross product") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq(
      "ngram" -> Dedup.ngramJaccard(docs, col("doc_id"), col("text"), col("source"),
        shingleN = 3, threshold = 0.3),
      "minhash" -> Dedup.minhashLsh(docs, col("doc_id"), col("text")),
      "simhash" -> Dedup.simhashPairs(docs, col("doc_id"), col("text"))
    ).foreach { case (name, df) =>
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join degenerated to a cross product:\n$plan")
    }
  }

  test("near-dup signature paths contain no interpreted HOF nodes") {
    // MinHash signatures were the last interpreted-HOF hot path: Spark
    // higher-order functions (ArrayTransform/ArrayAggregate/ZipWith) are
    // CodegenFallback and scale negatively at wide parallelism.
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = executedPlan(Dedup.minhashLsh(docs, col("doc_id"), col("text")))
    // HOFs print by prettyName, so the robust marker is their lambda child
    assert(!plan.contains("lambdafunction"), s"interpreted HOF in minhashLsh plan:\n$plan")
    assert(plan.contains("minhash_signature"), s"codegen signature missing:\n$plan")
  }

  test("ANN re-rank is a k-bounded partial aggregate, not a per-query window sort") {
    // A row_number window shuffles EVERY scored row into one partition
    // per query and sorts the whole group in one task — for brute force
    // that is the entire corpus; TopKByScore keeps the shuffle at
    // partitions x queries x k via map-side partial combine.
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    Seq(
      "brute" -> Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5),
      "lsh" -> Similarity.lshTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5)
    ).foreach { case (name, df) =>
      val plan = executedPlan(df)
      assert(!plan.contains("Window"), s"$name re-rank fell back to a window:\n$plan")
      assert(plan.contains("top_k_by_score") && plan.contains("ObjectHashAggregate"),
        s"$name top-k aggregate missing:\n$plan")
      assert(plan.contains("partial_top_k_by_score") || plan.contains("partial top_k"),
        s"$name has no map-side partial top-k:\n$plan")
    }
  }

  test("salted route repartitions on (sink, salt) - skew never lands one sink on one task") {
    val seqs = TokenSequences.synthetic(spark, 1000L, 4)
    val routed = LogPipeline.parseEnrichRoute(spark, seqs, partitions = 8)
    val plan = executedPlan(routed)
    assert(plan.contains("Exchange hashpartitioning(sink"),
      s"route not hash-partitioned on sink+salt:\n$plan")
    assert(plan.contains("pmod(hash(doc_id"),
      s"no salt in partitioning:\n$plan")
  }
}
