package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

/** Dedup + similarity operators: validated with planted near-duplicates
  * (no cross-engine oracle exists for the LSH hash functions —
  * determinism and recall are the contracts). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // corpus with planted near-duplicate pairs: (1000,1001) and (2000,2001)
  // differ by one word; everything else is distinct noise.
  lazy val corpus = {
    val noise = (0 until 200).map { i =>
      val words = (0 until 30).map(j => s"w${i}_$j") // disjoint vocab per doc
      (i.toLong, words.mkString(" "))
    }
    val planted = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (2000L, "one two three four five six seven eight nine ten eleven twelve"),
      (2001L, "one two three four five six seven eight nine ten eleven thirteen"))
    (noise ++ planted).toDF("id", "text")
  }

  test("exact dedup keeps the lowest-id survivor per duplicate text") {
    val withDups = corpus.union(Seq((9999L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("id", "text"))
    val out = Dedup.exact(withDups, col("text"), col("id"))
    assert(out.count() === withDups.count() - 1)
    assert(out.filter(col("id") === 9999L).count() === 0)
    assert(out.filter(col("id") === 1000L).count() === 1)
  }

  test("cosine is NULL on length mismatch (zip_with null-pad parity) and zero norm") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(Dedup.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0), "mismatched lengths must yield NULL, not a prefix dot")
    assert(rows(2).isNullAt(0), "zero-norm side must yield NULL, not NaN")
  }

  test("ngram jaccard within blocks finds planted pairs with exact scores") {
    val blocked = corpus.withColumn("blk", when(col("id") >= 1000, 1).otherwise(col("id") % 5))
    val pairs = Dedup.ngramJaccard(blocked, col("id"), col("text"), col("blk"),
        shingleN = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // 12-word docs, word trigrams: 10 shingles each, 9 shared
    // jaccard = 9 / 11
    assert(m.contains((1000L, 1001L)))
    assert(math.abs(m((1000L, 1001L)) - 9.0 / 11.0) < 1e-12)
  }

  test("degenerate bucket (identical boilerplate) is capped, not quadratized") {
    // 5000 identical docs share every posting list of their 5 shingles:
    // 12.5M candidate pairs in one block; the maxPosting guard drops
    // those posting lists wholesale while the planted pair, whose
    // shingles sit in healthy posting lists, still surfaces exactly.
    val boiler = (10000 until 15000).map(i => (i.toLong, "lorem ipsum dolor sit amet " * 3))
    val df = corpus.union(boiler.toDF("id", "text"))
    val pairs = Dedup.ngramJaccard(df, col("id"), col("text"), lit(0),
        shingleN = 3, threshold = 0.5, maxPosting = 100)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((1000L, 1001L)), s"planted pair lost: ${m.keys}")
    assert(math.abs(m((1000L, 1001L)) - 9.0 / 11.0) < 1e-12)
    assert(!pairs.exists(p => p._1 >= 10000 || p._2 >= 10000),
      "boilerplate posting lists leaked candidate pairs")
  }

  test("embeddingNearDup: degenerate block is capped, healthy blocks unaffected") {
    // one dominant label would otherwise re-quadratize its block (500
    // identical vectors = 124,750 pairs); the planted pair in a healthy
    // block must still surface with its exact cosine.
    val healthy = Seq(
      (1L, "a", Array(1.0f, 0.0f, 0.1f)),
      (2L, "a", Array(1.0f, 0.0f, 0.11f)),
      (3L, "a", Array(0.0f, 1.0f, 0.0f)))
    val dominant = (1000 until 1500).map(i => (i.toLong, "z", Array(0.5f, 0.5f, 0.5f)))
    val df = (healthy ++ dominant).toDF("vid", "lbl", "emb")
    val pairs = Dedup.embeddingNearDup(df, col("vid"), col("emb"), col("lbl"),
        threshold = 0.9, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"healthy-block pair lost: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 1000 || b >= 1000 },
      "dominant block leaked pairs past the cap")
    // cap disabled (default 2^20): the dominant block pairs quadratically
    val uncapped = Dedup.embeddingNearDup(df, col("vid"), col("emb"), col("lbl"),
      threshold = 0.9).count()
    assert(uncapped === 1L + 500L * 499L / 2L)
  }

  test("lshTopK: zero-norm corpus embedding yields no candidates (brute-force parity)") {
    val embs = spark.range(100).select(col("id"),
      when(col("id") === 50L,
          transform(sequence(lit(0), lit(15)), _ => lit(0.0)))
        .otherwise(transform(sequence(lit(0), lit(15)),
          d => (pmod(hash(col("id"), d), lit(1000)).cast("double") - 500.0) / 500.0))
        .as("emb"))
    val queries = embs.filter(col("id") < 5)
    val approx = Similarity.lshTopK(embs, col("id"), col("emb"),
      queries, col("id"), col("emb"), k = 20, tables = 16, planes = 2)
    val rows = approx.collect()
    assert(!rows.exists(_.getLong(1) == 50L),
      "zero-norm corpus row ranked despite undefined cosine")
    assert(rows.forall(r => !r.getDouble(2).isNaN), "NaN cosine leaked")
    // brute force agrees: CosineSim is NULL there, TopKByScore drops it
    val brute = Similarity.bruteForceTopK(embs, col("id"), col("emb"),
      queries, col("id"), col("emb"), k = 20).collect()
    assert(!brute.exists(_.getLong(1) == 50L))
  }

  test("lshTopK: empty query set returns an empty frame; NULL query embedding fails fast") {
    val embs = spark.range(50).select(col("id"),
      transform(sequence(lit(0), lit(7)),
        d => (pmod(hash(col("id"), d), lit(1000)).cast("double") - 500.0) / 500.0).as("emb"))
    val none = Similarity.lshTopK(embs, col("id"), col("emb"),
      embs.filter(col("id") < 0), col("id"), col("emb"), k = 5)
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("query_id", "nn_id", "cos", "rank"))
    val withNull = embs.withColumn("emb",
      when(col("id") === 3L, lit(null)).otherwise(col("emb")))
    val ex = intercept[IllegalArgumentException] {
      Similarity.lshTopK(embs, col("id"), col("emb"),
        withNull.filter(col("id") < 5), col("id"), col("emb"), k = 5)
    }
    assert(ex.getMessage.contains("NULL query embedding"))
  }

  test("LSH ANN achieves >=60% recall@5 vs brute force on random embeddings") {
    // deterministic pseudo-random embeddings, 16 dims, 300 vectors
    val embs = spark.range(300).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        d => (pmod(hash(col("id"), d), lit(1000)).cast("double") - 500.0) / 500.0).as("emb"))
    val queries = embs.filter(col("id") < 10)
    def collectNeighbors(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "nn_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = collectNeighbors(Similarity.bruteForceTopK(
      embs, col("id"), col("emb"), queries, col("id"), col("emb"), k = 5))
    val approx = collectNeighbors(Similarity.lshTopK(
      embs, col("id"), col("emb"), queries, col("id"), col("emb"),
      k = 5, tables = 16, planes = 6))
    val recalls = exact.map { case (q, nn) =>
      approx.get(q).map(a => (a & nn).size.toDouble / nn.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 = $mean")
  }

  test("TopKByScore: generic (string) ids survive partial/merge serialization; ranking exact") {
    import graft.functions.TopKByScore
    // 40 partitions force map-side partials + a real merge+deserialize
    // path; string ids exercise the generic UnsafeProjection buffer codec
    val rows = (0 until 2000).map(i => (s"g${i % 3}", f"id$i%04d", (i * 37 % 1999) / 1000.0))
    val df = spark.createDataFrame(rows).toDF("g", "id", "score").repartition(40)
    val got = df.groupBy(col("g"))
      .agg(TopKByScore(col("score"), col("id"), 4).as("top"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(m => (m.getString(0), m.getDouble(1))))
      .toMap
    // oracle: plain Scala sort by (score desc, id asc)
    rows.groupBy(_._1).foreach { case (g, gr) =>
      val want = gr.map(t => (t._2, t._3)).sortBy { case (id, s) => (-s, id) }.take(4)
      assert(got(g) === want, s"group $g")
    }
  }

  test("TopKByScore survives ObjectHashAggregate's sort-based fallback (>128 groups)") {
    import graft.functions.TopKByScore
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold defaults
    // to 128 distinct groups per partition: past it the operator switches
    // to sort-based aggregation, driving serialize/merge on every buffer
    val n = 300
    val rows = (0 until n * 20).map(i => (i % n, i.toLong, ((i * 131) % 997) / 100.0))
    val df = spark.createDataFrame(rows).toDF("g", "id", "score").repartition(7)
    val got = df.groupBy(col("g"))
      .agg(TopKByScore(col("score"), col("id"), 3).as("top"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(m => (m.getLong(0), m.getDouble(1))))
      .toMap
    assert(got.size === n)
    rows.groupBy(_._1).foreach { case (g, gr) =>
      val want = gr.map(t => (t._2, t._3)).sortBy { case (id, s) => (-s, id) }.take(3)
      assert(got(g) === want, s"group $g")
    }
  }

  test("multimodal decode: batch stage output matches per-row expectation") {
    val media = Multimodal.syntheticMedia(spark, "/root/testdata/sf0.001")
    val feats = Multimodal.decodeFeatures(media, Multimodal.FakeDecoder, partitions = 4)
      .collect()
    assert(feats.length === 500)
    feats.take(20).foreach { f =>
      assert(f.histogram.sum === f.n_bytes.toLong,
        s"histogram mass != byte count for ${f.media_id}")
      assert(f.histogram.length === 8)
    }
    assert(feats.map(_.kind).toSet === Set("image", "audio", "video"))
  }
}
