package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal) over the documents + embeddings tables. Everything
  * cross-engine deterministic carries a DuckDB oracle; LSH ANN
  * (engine-specific hash functions) is covered by DedupSpec instead
  * (recall vs brute force).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  val queries: Map[String, Q] = Map(
    // Exact dedup: deterministic survivor per identical text.
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), col("text"), col("doc_id"))
        .select(col("doc_id"), col("source"))
    }),

    // End-to-end curation: the composed training-data flow — quality
    // gate + language filter + exact dedup + per-source accounting — in
    // ONE plan: scan -> shuffle-free scoring/filter (codegen WordCounts)
    // -> single digest shuffle (dedup survivor) -> 2-phase hash agg.
    // The quality/language gate is a FENCED predicate column evaluated
    // in the projection, not a raw filter (round 6): pushdown inlined
    // qualityScore+langId into a FilterExec, which does NO
    // subexpression elimination — the shared WordCounts marker scan ran
    // ~20x per row there. As a Project column the repeated subtrees
    // collapse to one evaluation, and the curation columns never enter
    // the dedup survivor struct.
    "q_curate" -> ((s, dir) => {
      val keep = graft.functions.OptimizerFence(
        TextAnalysis.qualityScore(col("text")) >= 0.5 &&
          TextAnalysis.langId(col("text")) === "en")
      val d = docs(s, dir)
        .withColumn("__keep", keep).filter(col("__keep")).drop("__keep")
      Dedup.exact(d, col("text"), col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("sum_tokens"))
    }),

    // Exact-duplicate audit: distinct text digests per source.
    "q_dedup_stats" -> ((s, dir) => {
      docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"))
    }),

    // n-gram Jaccard near-dup pairs, blocked by source, over the FULL
    // documents table. Threshold 0.02: the fixture corpus has exactly one
    // genuinely near-duplicate pair (max jaccard 0.97), so a "real"
    // threshold gives the oracle an (almost) empty set to compare — at
    // 0.02 the sf0.01 gate emits ~21 (id_a, id_b, jaccard) rows, i.e. the
    // inverted-index rewrite's scores are actually cross-checked against
    // DuckDB's list_intersect arithmetic, not vacuously schema-matched.
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(docs(s, dir),
          col("doc_id"), col("text"),
          col("source"), shingleN = 3, threshold = 0.02)
    }),

    // Embedding cosine near-dup pairs within label blocks, full table
    // (~26 qualifying pairs at sf0.01 — the round-2 1-in-5 sample left a
    // single-row, near-vacuous gate).
    "q_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(embs(s, dir),
          col("vec_id"), col("embedding"),
          col("label"), threshold = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // Brute-force cosine ANN: top-5 neighbors for 5 query vectors.
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(
          e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
          k = 5)
        .select(col("query_id"), col("rank"), col("nn_id"))
    }),

    // Language ID: marker-word heuristic vs the table's lang labels.
    "q_langid" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // Quality scoring signals + composite score.
    "q_quality" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("sig", TextAnalysis.qualitySignals(col("text")))
      d.select(col("doc_id"),
          col("sig.n_words").as("n_words"),
          round(col("sig.punct_ratio"), 6).as("punct_r"),
          round(col("sig.stopword_ratio"), 6).as("stop_r"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // Token counting: whitespace + BPE-ish regex.
    "q_token_count" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"))
    }),

    // Document fingerprinting (bag-of-words md5).
    "q_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.bagOfWordsFingerprint(col("text")).as("fp"))
    }),

    // Multimodal plumbing: binary payload + batched decode stage
    // (deterministic FakeDecoder); invariant sum(histogram) == n_bytes.
    "q_multimodal" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s, dir)
      val feats = Multimodal.decodeFeatures(media, Multimodal.FakeDecoder,
        partitions = 8)
      // fixed 8-bucket histogram: an unrolled element_at sum stays inside
      // whole-stage codegen, where the aggregate() HOF it replaces is
      // CodegenFallback (the last interpreted expression in any gate plan)
      val histSum = (1 to 8).map(i => element_at(col("histogram"), i)).reduce(_ + _)
      feats.toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast(LongType).as("n_bytes"),
          histSum.as("hist_sum"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT doc_id, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
         ORDER BY doc_id""",
    "q_dedup_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
         FROM documents GROUP BY source ORDER BY source""",
    "q_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id, source,
             list_distinct(list_transform(generate_series(1, len(words)-2),
               i -> array_to_string(words[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, source,
                   regexp_split_to_array(lower(text), '\s+') AS words
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE len(a.sh) > 0 AND len(b.sh) > 0 AND jaccard >= 0.02
         ORDER BY id_a, id_b""",
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v) /
             (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos_r
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_inner_product(a.v, b.v) /
             (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.35
         ORDER BY id_a, id_b""",
    "q_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
         q AS (SELECT * FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
             list_inner_product(q.v, e.v) /
               (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(e.v, e.v))) AS cos
           FROM q JOIN e ON e.vec_id != q.vec_id)
         SELECT query_id, rank, nn_id FROM (
           SELECT query_id, nn_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_langid" -> {
      // replicate the argmax in SQL: same markers, same tie order
      val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
        val parts = ws.map(w =>
          s"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x = '$w'))")
        s"(${parts.mkString(" + ")}) AS s_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT lang, $scores FROM documents),
         best AS (SELECT lang, greatest(s_en, s_de, s_fr, s_es, s_zh) AS b, * FROM sc)
         SELECT lang,
           CASE WHEN b = 0 THEN 'und'
                WHEN s_en = b THEN 'en' WHEN s_de = b THEN 'de'
                WHEN s_fr = b THEN 'fr' WHEN s_es = b THEN 'es'
                ELSE 'zh' END AS pred, count(*) AS n
         FROM best GROUP BY 1, 2 ORDER BY lang, pred"""
    },
    "q_curate" -> {
      // pred = 'en' ⟺ s_en = max ∧ max > 0 (en wins ties: it is the
      // outermost WHEN in langId's foldRight)
      val scores = TextAnalysis.langMarkers.map { case (l, ws) =>
        val parts = ws.map(w =>
          s"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x = '$w'))")
        s"(${parts.mkString(" + ")}) AS s_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, source, text, $scores,
           regexp_split_to_array(text, '\\s+') AS words,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct
         FROM documents),
         scored AS (SELECT doc_id, source, text, words,
           greatest(s_en, s_de, s_fr, s_es, s_zh) AS b, s_en,
           round((CASE WHEN len(words) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN CAST(len(list_filter(list_transform(words, w -> lower(w)),
                  w -> w IN ('the','and','of','a','to','in'))) AS DOUBLE) / len(words) > 0.01
                THEN 1.0 ELSE 0.6 END)
             * (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1.0 ELSE 0.7 END), 4) AS q
         FROM sc),
         kept AS (SELECT * FROM scored WHERE q >= 0.5 AND b > 0 AND s_en = b
           QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
         SELECT source, count(*) AS n_docs, CAST(sum(len(words)) AS BIGINT) AS sum_tokens
         FROM kept GROUP BY source ORDER BY source"""
    },
    "q_quality" ->
      """WITH s AS (SELECT doc_id, text,
           regexp_split_to_array(text, '\s+') AS words,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct
         FROM documents)
         SELECT doc_id, CAST(len(words) AS INT) AS n_words,
           round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_r,
           round(CAST(len(list_filter(list_transform(words, w -> lower(w)),
             w -> w IN ('the','and','of','a','to','in'))) AS DOUBLE) / len(words), 6) AS stop_r,
           round((CASE WHEN len(words) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN CAST(len(list_filter(list_transform(words, w -> lower(w)),
                  w -> w IN ('the','and','of','a','to','in'))) AS DOUBLE) / len(words) > 0.01
                THEN 1.0 ELSE 0.6 END)
             * (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1.0 ELSE 0.7 END), 4) AS quality
         FROM s ORDER BY doc_id""",
    "q_token_count" ->
      """SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "q_multimodal" ->
      """SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) AS BIGINT) AS hist_sum
         FROM documents ORDER BY media_id"""
  )
}
