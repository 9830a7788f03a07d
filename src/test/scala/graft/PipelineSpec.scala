package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.pipeline.{LogPipeline, PipelineJob, PipelineReference, TokenSequences}
import graft.table.ManifestTable

/** North-rule pipeline behavior: per-sink parity, token-array equality,
  * snapshot commit + resume, left-outer enrich NULLs. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val N = 5000L

  lazy val seqs = TokenSequences.synthetic(spark, N, partitions = 8).cache()

  test("generator invariants: n_tok = size(tokens), bounded vocab, hot source head") {
    val bad = seqs.filter(size(col("tokens")) =!= col("n_tok")).count()
    assert(bad === 0)
    val tokStats = seqs.select(
      min(array_min(col("tokens"))), max(array_max(col("tokens")))).head()
    assert(tokStats.getInt(0) >= 0)
    assert(tokStats.getInt(1) < TokenSequences.VocabSize)
    val webShare = seqs.filter(col("source") === "web").count().toDouble / N
    assert(webShare > 0.35 && webShare < 0.55, s"web share $webShare (expected hot ~0.45)")
  }

  test("SeqMeta codegen is field-identical to the declarative Column chain") {
    // Round-6: generation collapsed into one struct-returning codegen
    // call (the per-column arithmetic inflated the fused map-stage
    // method past the JIT compile limit). Must agree field-for-field
    // with the old formulation, including arithmetic-id extremes near
    // fromLineitem's key-bound envelope.
    val extremes = Seq(0L, 1L, 2147483647L, 2147483648L, 4294967296L,
      (268435455L * 34359738368L) + (7L * 4294967296L) + (262143L * 16384L) + 16383L)
    val ids = spark.range(0, 3000).select(col("id").as("seq_id"))
      .union(extremes.toDF("seq_id"))
    val a = TokenSequences.withSequenceColumns(ids, col("seq_id"))
      .orderBy(col("seq_id")).collect()
    val b = PipelineReference.withSequenceColumnsDeclarative(ids, col("seq_id"))
      .orderBy(col("seq_id")).collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getAs[String]("doc_id") === y.getAs[String]("doc_id"))
      assert(x.getAs[Int]("n_tok") === y.getAs[Int]("n_tok"))
      assert(x.getSeq[Int](x.fieldIndex("tokens")).toSeq ===
        y.getSeq[Int](y.fieldIndex("tokens")).toSeq)
      assert(x.getAs[String]("source") === y.getAs[String]("source"))
      assert(x.getAs[Long]("__r3") === y.getAs[Long]("__r3"))
    }
  }

  test("RenderLine codegen is byte-identical to the format_string chain it replaced") {
    // 5k rows cover all three line classes (audit ~2.7%, bulk, ingest),
    // 1-vs-2-digit days/nodes, and zero-padded time fields
    val a = LogPipeline.renderLines(seqs).select(col("line"))
    val b = PipelineReference.renderLinesFormatString(seqs).select(col("line"))
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // all three classes actually present in the sample
    val kinds = LogPipeline.parse(a).groupBy(col("sink")).count().count()
    assert(kinds === 3)
  }

  test("parse recovers every field the render stage encoded (count parity per sink)") {
    val parsed = LogPipeline.parse(
      LogPipeline.renderLines(seqs).select(col("line")))
    assert(parsed.count() === N) // every line matches exactly one pattern
    // sink rule parity with the generating model
    val expected = seqs.select(
      when(col("__r3") % 37 === 0, "audit")
        .when(col("n_tok") >= 512, "bulk")
        .otherwise("ingest").as("sink"))
      .groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = parsed.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("LogPipeline.tableDef read from DDL equals the hand-built TableDef it replaced") {
    import graft.core.{ColumnDef, ColumnSource, PatternDef, TableDef, ValueType}
    def g(pattern: String, i: Int) = ColumnSource.Group(pattern, i)
    val ts = "([A-Z][a-z]{2}) (\\d+) (\\d+):(\\d+):(\\d+) (\\d{4})"
    val old = TableDef("seqlog",
      patterns = Seq(
        PatternDef("p_ingest",
          s"^$ts (\\S+) ingest\\[(\\d+)\\]: sequence (doc-\\d+) from (\\S+) n_tok=(\\d+)$$"),
        PatternDef("p_bulk",
          s"^$ts (\\S+) bulk\\[(\\d+)\\]: batch (doc-\\d+) src=(\\S+) toks=(\\d+)$$"),
        PatternDef("p_audit", "^AUDIT\\|(doc-\\d+)\\|(\\S+)\\|(\\d+)\\|(\\w+)$")),
      columns = Seq(
        ColumnDef("is_ingest", ValueType.BoolT, g("p_ingest", 0)),
        ColumnDef("is_bulk", ValueType.BoolT, g("p_bulk", 0)),
        ColumnDef("is_audit", ValueType.BoolT, g("p_audit", 0)),
        ColumnDef("ingest_doc", ValueType.TextT, g("p_ingest", 9)),
        ColumnDef("bulk_doc", ValueType.TextT, g("p_bulk", 9)),
        ColumnDef("audit_doc", ValueType.TextT, g("p_audit", 1)),
        ColumnDef("ingest_src", ValueType.TextT, g("p_ingest", 10)),
        ColumnDef("bulk_src", ValueType.TextT, g("p_bulk", 10)),
        ColumnDef("audit_src", ValueType.TextT, g("p_audit", 2)),
        ColumnDef("ingest_n", ValueType.IntT, g("p_ingest", 11)),
        ColumnDef("bulk_n", ValueType.IntT, g("p_bulk", 11)),
        ColumnDef("audit_n", ValueType.IntT, g("p_audit", 3)),
        ColumnDef("ts", ValueType.TimestampT, ColumnSource.TimestampGroups(
          Seq(6, 1, 2, 3, 4, 5).map(g("p_ingest", _)))),
        ColumnDef("bulk_ts", ValueType.TimestampT, ColumnSource.TimestampGroups(
          Seq(6, 1, 2, 3, 4, 5).map(g("p_bulk", _))))))
    val got = LogPipeline.tableDef
    assert(got.name === old.name)
    assert(got.patterns.length === old.patterns.length)
    got.patterns.zip(old.patterns).foreach { case (a, b) => assert(a === b, a.name) }
    assert(got.columns.length === old.columns.length)
    got.columns.zip(old.columns).foreach { case (a, b) => assert(a === b, a.name) }
    assert(got === old)
  }

  test("enrich is a broadcast left-outer join; unknown source keeps NULL region") {
    val parsed = LogPipeline.parse(
      LogPipeline.renderLines(seqs).select(col("line")))
    val enriched = LogPipeline.enrich(parsed, LogPipeline.sourceDim(spark))
    assert(enriched.count() === N) // left outer: no row loss
    // src13 is absent from the dim on purpose
    assert(enriched.filter(col("source") === "src13" && col("region").isNull).count() ===
      parsed.filter(col("source") === "src13").count())
    // plan check: dimension side must be broadcast
    val plan = enriched.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("DocId codegen is byte-identical to format_string(doc-%012d) incl. >12-digit ids") {
    import graft.functions.DocId
    val ids = Seq(0L, 1L, 7L, 999999999999L, 1000000000000L, // 12->13 digit boundary
      8796093022208L, Long.MaxValue) ++ (0 until 200).map(i => i * 40009L + 3)
    val df = ids.toDF("id").select(
      DocId(col("id")).as("a"),
      format_string("doc-%012d", col("id")).as("b"))
    assert(df.filter(col("a") =!= col("b")).count() === 0)
  }

  test("PackTokens/UnpackTokens: round-trip identity, uint16 guard, null handling") {
    import graft.functions.{PackTokens, UnpackTokens}
    val df = seqs.limit(200).select(col("tokens"),
      UnpackTokens(PackTokens(col("tokens"))).as("rt"))
    assert(df.filter(col("tokens") =!= col("rt")).count() === 0)
    // boundary values round-trip; out-of-range throws (corruption guard)
    val edge = Seq(Seq(0, 1, 65535)).toDF("t")
      .select(UnpackTokens(PackTokens(col("t"))).as("rt")).head().getSeq[Int](0)
    assert(edge === Seq(0, 1, 65535))
    // surfaces raw from local eval or wrapped in SparkException from tasks
    val ex = intercept[Exception] {
      Seq(Seq(65536)).toDF("t").select(PackTokens(col("t"))).collect()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(t => Option(t.getMessage).exists(_.contains("uint16"))))
    // NULL array stays NULL
    val n = Seq((1, Option.empty[Seq[Int]])).toDF("i", "t")
      .select(PackTokens(col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("routed rows preserve token arrays bit-for-bit (BASELINE invariant)") {
    // both transport modes: packed uint16 (bench/gate opt-in) and the
    // general unpacked default must round-trip identically
    for (pack <- Seq(true, false)) {
      val routed = LogPipeline.parseEnrichRoute(spark, seqs, partitions = 8,
        packTransport = pack)
      val regen = TokenSequences.synthetic(spark, N, partitions = 8)
        .select(col("doc_id"), col("tokens").as("expect"))
      val joined = routed.join(regen, Seq("doc_id"))
      assert(joined.count() === N, s"packTransport=$pack")
      assert(joined.filter(col("tokens_in") =!= col("expect")).count() === 0,
        s"packTransport=$pack")
    }
  }

  test("packed-domain token equality: binary compare ≡ unpacked array compare") {
    // Round-6 q_pipe_tokeq optimization: the transported packed bytes are
    // compared against PackTokens(regenerated) directly. PackTokens is
    // injective on [0, 65535]^n, so the packed comparison must agree with
    // the unpacked array comparison on BOTH equal rows and rows with a
    // planted corruption (one token perturbed).
    import graft.functions.{PackTokens, UnpackTokens}
    val routedPacked = LogPipeline.parseEnrichRoute(spark, seqs, partitions = 8,
      packTransport = true, unpackAfter = false)
    assert(routedPacked.schema("tokens_in").dataType ===
      org.apache.spark.sql.types.BinaryType)
    // equal case: every routed row's bytes equal the re-packed regeneration
    val expectP = PackTokens(graft.functions.TokenGen(
      substring(col("doc_id"), 5, 24).cast("long"), col("n_tok")))
    val cmp = routedPacked.withColumn("ep", expectP)
      .withColumn("eq_packed", col("tokens_in") === col("ep"))
      .withColumn("eq_unpacked", UnpackTokens(col("tokens_in")) === UnpackTokens(col("ep")))
    assert(cmp.filter(col("eq_packed") =!= col("eq_unpacked")).count() === 0)
    assert(cmp.filter(!col("eq_packed")).count() === 0)
    // corrupted case: perturb one token -> both comparisons must flip
    val corrupt = routedPacked.withColumn("ep", expectP)
      .withColumn("bad", PackTokens(
        concat(array((UnpackTokens(col("tokens_in"))(0) + 1) % 65536),
          slice(UnpackTokens(col("tokens_in")), 2, 1000000))))
      .withColumn("eq_packed", col("bad") === col("ep"))
      .withColumn("eq_unpacked", UnpackTokens(col("bad")) === UnpackTokens(col("ep")))
    assert(corrupt.filter(col("eq_packed") =!= col("eq_unpacked")).count() === 0)
    assert(corrupt.filter(col("eq_packed")).count() === 0)
  }

  test("JoinInts is byte-identical to concat_ws over int arrays") {
    import graft.functions.JoinInts
    // generated token arrays + adversarial literals (empty, nulls inside,
    // null array, negatives, Int.MinValue)
    val gen = seqs.select(
      JoinInts(col("tokens")).as("a"),
      concat_ws(",", col("tokens")).as("b"))
    assert(gen.filter(col("a") =!= col("b")).count() === 0)
    val lits = Seq(
      Seq(1, 2, 3), Seq(), Seq(0), Seq(-5, 7), Seq(Int.MinValue, Int.MaxValue))
      .toDF("xs")
      .union(Seq.empty[Seq[Int]].toDF("xs"))
      .union(spark.sql("SELECT array(1, NULL, 3) AS xs"))
      .union(spark.sql("SELECT CAST(NULL AS array<int>) AS xs"))
    val cmp = lits.select(JoinInts(col("xs")).as("a"),
      concat_ws(",", col("xs")).as("b"))
    cmp.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("TokenGenPacked is byte-identical to pack_tokens(token_gen(...))") {
    import graft.functions.{PackTokens, TokenGenPacked}
    // the session fuses pack_tokens(token_gen(..)) into token_gen_packed,
    // so the reference `b` is evaluated with that rule excluded —
    // otherwise both columns run the fused expression
    withoutTokenFusion {
      val both = seqs.limit(2000).select(
        TokenGenPacked(substring(col("doc_id"), 5, 24).cast("long"), col("n_tok")).as("a"),
        PackTokens(graft.functions.TokenGen(
          substring(col("doc_id"), 5, 24).cast("long"), col("n_tok"))).as("b"))
      val plan = both.queryExecution.optimizedPlan.toString()
      assert(plan.contains("pack_tokens(token_gen("), s"reference was fused:\n$plan")
      assert(both.filter(col("a") =!= col("b")).count() === 0)
      assert(both.count() === 2000)
    }
  }

  test("snapshot write + commit + time-travel read") {
    withTempDir("mtbl") { dir =>
      val root = dir.toString
      val manifest = PipelineJob.run(spark, seqs, root, snapshotId = 1L, partitions = 8)
      assert(manifest.sinks.map(_.sink).sorted === Seq("audit", "bulk", "ingest"))
      assert(manifest.sinks.map(_.rows).sum === N)
      val table = new ManifestTable(root)
      assert(table.currentSnapshotId === Some(1L))
      val ingest = table.read(spark, "ingest")
      assert(ingest.count() === manifest.sinks.find(_.sink == "ingest").get.rows)
      val m = PipelineJob.metrics(root, 1L)
      assert(m.exists(_.rowsRouted === N))
      assert(m.exists(_.rowsIn === N))
    }
  }

  test("resume: committed snapshot short-circuits; lost pointer recommits from fragments") {
    withTempDir("mtbl2") { dir =>
      val root = dir.toString
      val m1 = PipelineJob.run(spark, seqs, root, snapshotId = 7L, partitions = 8)
      // no-op resume returns identical manifest
      val m2 = PipelineJob.run(spark, seqs, root, snapshotId = 7L, partitions = 8)
      assert(m1 === m2)
      // simulate crash after fragments, before commit: delete manifest+pointer
      Files.delete(Paths.get(root, "_manifests", "7.json"))
      Files.delete(Paths.get(root, "_current"))
      val t0 = System.nanoTime()
      val m3 = PipelineJob.run(spark, seqs, root, snapshotId = 7L, partitions = 8)
      val resumeSec = (System.nanoTime() - t0) / 1e9
      assert(m3.sinks.toSet === m1.sinks.toSet)
      // fragments short-circuit: resume must not recompute the pipeline
      assert(resumeSec < 5.0, s"resume took ${resumeSec}s — recomputed instead of resuming?")
    }
  }

  test("second snapshot records parent lineage (time travel)") {
    withTempDir("mtbl3") { dir =>
      val root = dir.toString
      PipelineJob.run(spark, seqs, root, snapshotId = 1L, partitions = 8)
      val m2 = PipelineJob.run(spark,
        TokenSequences.synthetic(spark, 100L, partitions = 2), root,
        snapshotId = 2L, partitions = 2)
      assert(m2.parentId === Some(1L))
      val table = new ManifestTable(root)
      // time-travel: snapshot 1 still reads the old row counts
      val oldRows = table.manifest(1L).sinks.map(_.rows).sum
      assert(oldRows === N)
    }
  }

  test("manifest and marker JSON round-trip a root with quote and backslash, and a negative id") {
    withTempDir("mt\"q\\b") { dir =>
      val root = dir.toString
      assert(root.contains("\"") && root.contains("\\"))
      val small = TokenSequences.synthetic(spark, 100L, partitions = 2)
      val m = PipelineJob.run(spark, small, root, snapshotId = -1L, partitions = 2)
      assert(m.sinks.map(_.rows).sum === 100L)
      assert(m.sinks.forall(_.path.startsWith(root)))
      val table = new ManifestTable(root)
      assert(table.currentSnapshotId === Some(-1L))
      assert(table.manifest(-1L) === m)
      assert(table.read(spark, m.sinks.head.sink).count() === m.sinks.head.rows)
      assert(PipelineJob.metrics(root, -1L).exists(_.rowsIn === 100L))
      val m2 = PipelineJob.run(spark, small, root, snapshotId = 2L, partitions = 2)
      assert(table.manifest(2L).parentId === Some(-1L))
      assert(table.manifest(2L) === m2)
    }
  }
}
