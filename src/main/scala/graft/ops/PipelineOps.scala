package graft.ops

import graft.{Num, Q, Tables}
import org.apache.spark.sql.functions._

/** Training-data curation operators — the filter/scrub/sample half of
  * an LLM data pipeline, complementing TextOps (dedup/stats) and
  * VectorOps (similarity). All plans are single-pass scans or bounded
  * explode→agg shapes: no HOF lambda ever touches per-token work on
  * the hot path (interpreted per element — measured 4× penalty in
  * round 1), no driver collects, every shuffle key is a group key.
  *
  * The reference has no analog surface (SURVEY §2A "zero occurrences")
  * — these are the north-star additions the brief asks for beyond it. */
object PipelineOps {

  /** Rule-based document quality gate (Gopher-style heuristics:
    * token-count bounds, mean-word-length band, symbol ratio,
    * stopword presence). Pure map stage — computable in the scan
    * projection with codegen'd string ops; at 100 TB this is the
    * cheapest filter so it runs FIRST, before any shuffle-bearing
    * dedup. `len_sum` avoids a per-token fold: with single-space
    * tokenization it is just the char count net of spaces. */
  val qQualityRules = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("len_sum", length(regexp_replace(col("text"), " ", "")))
        .withColumn("n_symbols",
          size(expr("regexp_extract_all(text, '[^a-z ]', 0)")))
        .withColumn("mean_word_len",
          col("len_sum").cast("double") / col("n_tokens"))
        .withColumn("symbol_ratio",
          col("n_symbols").cast("double") / col("n_chars"))
        .withColumn("has_stopword", array_contains(col("toks"), "the"))
        .withColumn("pass",
          col("n_tokens").between(10, 100000) &&
            col("mean_word_len").between(2.0, 12.0) &&
            (col("symbol_ratio") < 0.1) && col("has_stopword"))
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("symbol_ratio"), col("has_stopword"), col("pass"))
        .orderBy(col("doc_id")),
    """SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, has_stopword,
         (n_tokens BETWEEN 10 AND 100000) AND (mean_word_len BETWEEN 2.0 AND 12.0)
           AND (symbol_ratio < 0.1) AND has_stopword AS pass
       FROM (SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
               CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')) AS mean_word_len,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z ]')) AS DOUBLE)
                 / n_chars AS symbol_ratio,
               LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the') AS has_stopword
             FROM documents)
       ORDER BY doc_id""")

  /** Denylist scrubbing (the PII-redaction shape: emails, digit runs,
    * org-specific terms — here a term denylist matching the synthetic
    * corpus). One codegen'd regexp pass per doc; emits hit counts and
    * the redacted length so downstream filters can drop
    * redaction-heavy docs. Scrubbing must precede dedup at scale
    * (redaction changes the content hash). */
  private val piiPat = "\\b(key|hash|customer)\\b|[0-9]{3,}"

  val qPiiRedact = Q(
    (s, d) =>
      Tables.documents(s, d)
        // functions-API regexp (not expr()): the pattern reaches the
        // engine verbatim, with no second layer of SQL-literal escaping
        .withColumn("n_hits",
          size(regexp_extract_all(col("text"), lit(piiPat), lit(0))))
        .withColumn("redacted_len",
          length(regexp_replace(col("text"), piiPat, "[X]")))
        .filter(col("n_hits") > 0)
        .select(col("doc_id"), col("n_hits"), col("redacted_len"))
        .orderBy(col("doc_id")),
    """SELECT doc_id,
         LEN(REGEXP_EXTRACT_ALL(text, '\b(key|hash|customer)\b|[0-9]{3,}')) AS n_hits,
         LENGTH(REGEXP_REPLACE(text, '\b(key|hash|customer)\b|[0-9]{3,}', '[X]', 'g')) AS redacted_len
       FROM documents
       WHERE LEN(REGEXP_EXTRACT_ALL(text, '\b(key|hash|customer)\b|[0-9]{3,}')) > 0
       ORDER BY doc_id""")

  /** Intra-document repetition: 1 − distinct/total trigrams — the
    * boilerplate/spam signal. explode → count + count(distinct) per
    * doc keeps the work in codegen'd aggregates (the per-doc
    * `array_distinct` HOF alternative is interpreted per element).
    * The distinct-per-key agg is a two-phase partial aggregate, no
    * extra shuffle beyond the doc_id one. */
  val qRepetitionRatio = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(toks) - 3),
               i -> concat(element_at(toks, i + 1), ' ',
                           element_at(toks, i + 2), ' ',
                           element_at(toks, i + 3)))""")).as("trigram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct(col("trigram")).as("n_distinct"))
        .withColumn("repetition",
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"))
        .orderBy(col("doc_id")),
    """SELECT doc_id, COUNT(*) AS n_trigrams,
         COUNT(DISTINCT trigram) AS n_distinct,
         1.0 - CAST(COUNT(DISTINCT trigram) AS DOUBLE) / COUNT(*) AS repetition
       FROM (SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(LEN(toks) - 2),
                 i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS trigram
             FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
             WHERE LEN(toks) >= 3)
       GROUP BY doc_id ORDER BY doc_id""")

  /** Deterministic stratified sampling: per-language keep rates via a
    * portable Lehmer hash of the key — NOT `rand()` (not reproducible
    * across runs/engines) and NOT engine hashes (not oracle-able).
    * Pure filter, no shuffle, trivially parallel; the same predicate
    * works as a parquet-pushable sampling filter at 100 TB. TWO
    * multiply-mod rounds with different prime moduli: one affine step
    * stays linear in the id, which correlates with any id-periodic
    * attribute (measured: per-lang keep rates of 1%–17% against a 10%
    * target); the mod-p1 truncation between rounds breaks the
    * linearity (measured: all strata within noise of target).
    * Arithmetic stays exact while doc_id < 2^63 / 2654435761 ≈ 3.5e9
    * — document-count scale, and shard-local ids keep it there. */
  val qSampleStratified = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", expr(Num.hashExpr("doc_id")))
        .withColumn("threshold", expr(
          """CASE WHEN lang = 'en' THEN 1073741814
                  WHEN lang = 'de' THEN 536870907
                  ELSE 214748362 END"""))
        .filter(col("h") < col("threshold"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, lang, source FROM documents
       WHERE ${Num.sqlHash("doc_id")} <
         CASE WHEN lang = 'en' THEN 1073741814
              WHEN lang = 'de' THEN 536870907
              ELSE 214748362 END
       ORDER BY doc_id""")

  /** Deterministic per-group capping — "at most K docs per source",
    * the domain-balancing op every web-scale corpus needs (a handful
    * of giant domains otherwise dominate the token budget). Rank
    * within each source by the same portable two-round hash used for
    * sampling (NOT by doc_id: that would keep each source's oldest
    * docs, biasing the cap) and keep rank ≤ K. One shuffle on the
    * group key; ties impossible because h is injective-enough and
    * doc_id breaks any residual collision. */
  val qSamplePerGroup = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 20
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("h", expr(Num.hashExpr("doc_id")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy(col("source"), col("rk"))
    },
    s"""SELECT source, doc_id, rk FROM (
         SELECT source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY ${Num.sqlHash("doc_id")} ASC,
                      doc_id ASC) AS rk
         FROM documents) t
       WHERE rk <= 20
       ORDER BY source, rk""")

  /** Target-distribution mixing (DoReMi / Pile-style domain
    * weighting): given target corpus shares per language and a token
    * budget, derive per-stratum keep RATES from the measured corpus
    * counts (rate = min(1, w·B / n)) and apply them as a
    * deterministic hash-threshold filter. The output is the per-lang
    * mixing report (measured size, derived rate, sampled size).
    *
    * Scale shape: the rate table is strata-sized (a tiny agg +
    * broadcast join back); the keep decision is a pure map-side
    * predicate on the same portable two-round hash as
    * q_sample_stratified, so the sampler itself pushes into the scan.
    * FLOOR before the bigint cast: Spark truncates double→long while
    * DuckDB rounds, so the threshold must be made integral first. */
  val qMixSources = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val weights = s.createDataFrame(Seq(
        ("en", 0.40), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)))
        .toDF("lang", "w")
      val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(weights, Seq("lang"))
        .withColumn("rate", least(lit(1.0), col("w") * lit(200.0) / col("n_total")))
        .withColumn("cut", expr("CAST(FLOOR(rate * 2147483629.0) AS BIGINT)"))
      docs.join(broadcast(rates), Seq("lang"))
        .withColumn("h", expr(Num.hashExpr("doc_id")))
        .withColumn("kept", (col("h") < col("cut")).cast("long"))
        .groupBy(col("lang"))
        .agg(max(col("n_total")).as("n_total"), max(col("rate")).as("rate"),
          sum(col("kept")).as("n_kept"))
        .orderBy(col("lang"))
    },
    s"""WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
       weights(lang, w) AS (VALUES
         ('en', 0.40), ('de', 0.15), ('es', 0.15), ('fr', 0.15), ('zh', 0.15)),
       rates AS (
         SELECT c.lang, n_total,
           LEAST(1.0, CAST(w AS DOUBLE) * 200.0 / n_total) AS rate,
           CAST(FLOOR(LEAST(1.0, CAST(w AS DOUBLE) * 200.0 / n_total)
                * 2147483629.0) AS BIGINT) AS cut
         FROM counts c JOIN weights USING (lang))
       SELECT d.lang, MAX(n_total) AS n_total, MAX(rate) AS rate,
         CAST(SUM(CASE WHEN ${Num.sqlHash("doc_id")} < cut
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM documents d JOIN rates USING (lang)
       GROUP BY d.lang ORDER BY d.lang""")

  /** Equal-frequency binning: decile of each doc's length within its
    * language (ntile) — the rank-based feature/stratification op
    * (length deciles are a standard curriculum/stratification axis).
    * Tie-broken by doc_id so the assignment is total-ordered and
    * engine-portable. */
  val qLengthDeciles = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        .orderBy(col("lang"), col("decile"))
    },
    """SELECT lang, decile, COUNT(*) AS n, MIN(n_chars) AS lo, MAX(n_chars) AS hi
       FROM (SELECT lang, doc_id, n_chars,
               CAST(NTILE(10) OVER (PARTITION BY lang
                 ORDER BY n_chars ASC, doc_id ASC) AS INT) AS decile
             FROM documents) t
       GROUP BY lang, decile ORDER BY lang, decile""")

  /** Equal-width histogram of document lengths — the profiling op that
    * feeds every "what does this corpus look like" dashboard. Bin by
    * integer arithmetic (width 50 chars), count per bin; a single
    * partial-aggregated shuffle regardless of corpus size. */
  val qLengthHistogram = Q(
    (s, d) =>
      Tables.documents(s, d)
        .groupBy((col("n_chars") / 50).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bin_lo", col("bin") * 50)
        .select(col("bin"), col("bin_lo"), col("n"))
        .orderBy(col("bin")),
    """SELECT bin, bin * 50 AS bin_lo, n FROM (
         SELECT n_chars // 50 AS bin, COUNT(*) AS n
         FROM documents GROUP BY 1)
       ORDER BY bin""")

  /** Corpus length profile: exact token-count percentiles per source.
    * Exact (sort-based) percentile is the sf-sized diagnostic twin of
    * q_approx_quantiles' mergeable-sketch scale path. */
  val qTokenPercentiles = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, 0.5)").as("p50"),
          expr("percentile(n_tokens, 0.9)").as("p90"))
        .orderBy(col("source")),
    """SELECT source, COUNT(*) AS n_docs,
         QUANTILE_CONT(n_tokens, 0.5) AS p50,
         QUANTILE_CONT(n_tokens, 0.9) AS p90
       FROM (SELECT source, LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents)
       GROUP BY source ORDER BY source""")

  /** Sequence packing: assign docs to fixed token-budget training rows
    * (the pretraining batch-assembly op). Docs are ordered per language
    * by the portable hash (deterministic shuffle-order), a window
    * cumsum tracks the running token count, and `bin = floor(tokens
    * before this doc / budget)` packs greedily — a doc that straddles a
    * boundary starts... in the bin its prefix sum lands in, exactly the
    * "concat then split at budget" semantics of a packed pretraining
    * stream. One shuffle on the partition key; the cumsum is a running
    * window (no second pass). */
  val qPackSequences = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 2048
      val order = Window.partitionBy(col("lang"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("h", expr(Num.hashExpr("doc_id")))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(
            order.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          (col("cum_before") / budget).cast("long").as("pack_id"),
          pmod(col("cum_before"), lit(budget)).as("pack_offset"))
        .orderBy(col("lang"), col("doc_id"))
    },
    s"""SELECT lang, doc_id, n_tokens,
         CAST(FLOOR(cum_before / 2048) AS BIGINT) AS pack_id,
         cum_before % 2048 AS pack_offset
       FROM (
         SELECT lang, doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
             ORDER BY ${Num.sqlHash("doc_id")} ASC,
                      doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         FROM (SELECT lang, doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens
               FROM documents) x) t
       ORDER BY lang, doc_id""")

  /** End-to-end curation flagship: quality gate → exact dedup →
    * stratified sample, composed the way a production pipeline orders
    * them (cheapest filter first; dedup's shuffle only sees survivors;
    * sampling last so rates apply to the deduped population). Output
    * is the surviving doc set. */
  val qCurationPipeline = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .filter(col("n_tokens").between(10, 100000) &&
          array_contains(col("toks"), "the"))
      // arg-min, not column-wise min: min(lang) independently of
      // min(doc_id) could take the lang of a DIFFERENT duplicate than
      // the kept doc, sampling the survivor at the wrong stratum rate
      // whenever duplicates cross languages (doc_id is unique, so
      // min_by is deterministic)
      val deduped = docs
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          expr("min_by(lang, doc_id)").as("lang"))
      deduped
        .withColumn("h", expr(Num.hashExpr("doc_id")))
        .filter(col("h") < when(col("lang") === "en", 1073741814)
          .otherwise(536870907))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    s"""WITH gated AS (
         SELECT doc_id, lang, text FROM documents
         WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 10 AND 100000
           AND LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the')),
       deduped AS (
         SELECT MIN(doc_id) AS doc_id, ARG_MIN(lang, doc_id) AS lang
         FROM gated GROUP BY text)
       SELECT doc_id, lang FROM deduped
       WHERE ${Num.sqlHash("doc_id")} <
         CASE WHEN lang = 'en' THEN 1073741814 ELSE 536870907 END
       ORDER BY doc_id""")

  /** Fixed-window document chunking with overlap — the step that turns
    * curated documents into training sequences: 64-token windows at
    * stride 56 (8 tokens of overlap so no boundary context is lost),
    * each chunk routed to one of 8 output shards by the portable
    * two-round hash of (doc_id, chunk_id) so shard files interleave
    * documents deterministically. All arithmetic is integer (window
    * starts, counts, shard routing) and the chunk text is a
    * slice+join of the same whitespace tokenization every text op
    * uses, so the full output is hash-exact cross-engine. Scale
    * story: one narrow map + explode, no shuffle — chunk count not
    * doc count drives output size, and the shard column is the
    * partition key a `partitionBy("shard")` writer would use. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): chunk any
    * (doc_id, text) frame into `chunkSize`-token windows at `stride`,
    * shard-routed by the portable hash. Pure map+explode — no
    * shuffle at any corpus size. */
  def chunkDocuments(docs: org.apache.spark.sql.DataFrame,
                     chunkSize: Int = 64, stride: Int = 56,
                     shards: Int = 8): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize && shards > 0)
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      .withColumn("chunk_id", explode(expr(s"sequence(0, (n - 1) div $stride)")))
      .withColumn("chunk_text",
        array_join(
          slice(col("toks"), col("chunk_id") * lit(stride) + lit(1), lit(chunkSize)),
          " "))
      .withColumn("n_chunk_tokens",
        size(slice(col("toks"), col("chunk_id") * lit(stride) + lit(1), lit(chunkSize))))
      // hash the doc_id ALONE (inside Num.hashExpr's documented
      // overflow-free domain, doc_id < ~3.5e9) and rotate by chunk_id:
      // a packed (doc_id·K + chunk_id) input would overflow the hash's
      // first multiply K× sooner — wrapping silently in Spark and
      // erroring in DuckDB. The rotation keeps consecutive chunks of
      // one doc on different shards (interleaving a writer wants).
      .withColumn("shard",
        (expr(Num.hashExpr("doc_id")) + col("chunk_id")) % shards)
      .select(col("doc_id"), col("chunk_id"), col("shard"),
        col("n_chunk_tokens"), col("chunk_text"))
  }

  val qChunkDocuments = Q(
    (s, d) =>
      chunkDocuments(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_id")),
    s"""SELECT doc_id, i AS chunk_id,
         (${Num.sqlHash("doc_id")} + i) % 8 AS shard,
         LEN(toks[i * 56 + 1 : i * 56 + 64]) AS n_chunk_tokens,
         ARRAY_TO_STRING(toks[i * 56 + 1 : i * 56 + 64], ' ') AS chunk_text
       FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
             FROM documents),
            LATERAL (SELECT UNNEST(RANGE((n - 1) // 56 + 1)) AS i)
       ORDER BY doc_id, chunk_id""")

  /** Weight-proportional sampling — keep probability scales with a
    * per-row quality weight (here: document length, capped), the
    * "sample good documents more" knob between uniform sampling and a
    * hard gate. The keep test is `hash < (base · weight) DIV cap` in
    * PURE INTEGER arithmetic (base = 20 % of the hash modulus,
    * weight = LEAST(n_chars, 400)): no float rate ever enters, so the
    * decision is bit-identical cross-engine and reproducible at any
    * scale — and it remains a parquet-pushable scan predicate, no
    * shuffle. Max intermediate 429496725 × 400 ≈ 1.7e11 ≪ 2^63. */
  val qSampleWeighted = Q(
    (s, d) =>
      Tables.documents(s, d)
        .filter(expr(
          s"${Num.hashExpr("doc_id")} < (429496725 * LEAST(n_chars, 400)) DIV 400"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, lang, n_chars FROM documents
       WHERE ${Num.sqlHash("doc_id")} < (429496725 * LEAST(n_chars, 400)) // 400
       ORDER BY doc_id""")

  /** The capstone composition — a full dataset build as ONE lazy plan:
    * quality gate (cheapest filter first, narrow) → exact dedup among
    * survivors (32-byte digest shuffle key, min-id survivor) →
    * deterministic 80/10/10 split by the portable hash (doc-level;
    * the cluster-aware variant is q_split_leakage_safe) → chunk into
    * training windows → per-(split, shard) chunk/doc/token counts.
    * Catalyst fuses the gate into the scan, the dedup is the only
    * wide stage before chunking, and every decision (gate, survivor,
    * split, shard) is integer/exact arithmetic, so the WHOLE pipeline
    * output is hash-identical to the DuckDB replay. At 100 TB this is
    * the plan you'd actually submit: stage order is cost-sorted and
    * nothing materializes between stages. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): the full
    * dataset build over any (doc_id, text, n_chars) frame — quality
    * gate → exact dedup → deterministic 80/10/10 hash split → chunk →
    * per-(split, shard) counts, one lazy plan. `n_chars` is the
    * precomputed text length the gate's symbol-ratio rule reads
    * (`length(text)` if the caller has nothing better). */
  def datasetBuild(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // both shared stages (gate survivors, split-tagged survivors)
      // are read twice by this plan (q_dataset_build, the Graft
      // facade) — shared per (session, input plan), NOT
      // bare-persisted: a bare persist on a caller-derived frame
      // would leak one orphan cache entry per distinct input
      val gated = graft.SessionMemo.shared(docs.sparkSession,
        s"dataset_gated:${graft.SessionMemo.planKey(docs)}") {
        docs
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("len_sum", length(regexp_replace(col("text"), " ", "")))
          .withColumn("n_symbols",
            size(expr("regexp_extract_all(text, '[^a-z ]', 0)")))
          .filter(col("n_tokens").between(10, 100000) &&
            (col("len_sum").cast("double") / col("n_tokens")).between(2.0, 12.0) &&
            (col("n_symbols").cast("double") / col("n_chars") < 0.1) &&
            array_contains(col("toks"), "the"))
          .select(col("doc_id"), col("text"))
      }
      val keep = gated
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // 0.8 / 0.9 of the hash modulus 2147483629, as exact integers
      val surv = graft.SessionMemo.shared(docs.sparkSession,
        s"dataset_surv:${graft.SessionMemo.planKey(docs)}") {
        gated.join(keep, Seq("doc_id"))
          .withColumn("hh", expr(Num.hashExpr("doc_id")))
          .withColumn("split",
            when(col("hh") < 1717986903L, "train")
              .when(col("hh") < 1932735266L, "val")
              .otherwise("test"))
      }
      chunkDocuments(surv.select(col("doc_id"), col("text")))
        .join(surv.select(col("doc_id"), col("split")), Seq("doc_id"))
        .groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chunk_tokens")).cast("long").as("n_tokens"))
        .orderBy(col("split"), col("shard"))
  }

  val qDatasetBuild = Q(
    (s, d) => datasetBuild(Tables.documents(s, d)),
    s"""WITH gated AS (
         SELECT doc_id, text FROM documents
         WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 10 AND 100000
           AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / LEN(STRING_SPLIT(text, ' ')) BETWEEN 2.0 AND 12.0
           AND CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z ]')) AS DOUBLE)
               / n_chars < 0.1
           AND LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the')),
       keep AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text),
       surv AS (
         SELECT g.doc_id, g.text,
           CASE WHEN ${Num.sqlHash("g.doc_id")} < 1717986903 THEN 'train'
                WHEN ${Num.sqlHash("g.doc_id")} < 1932735266 THEN 'val'
                ELSE 'test' END AS split
         FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
       chunks AS (
         SELECT doc_id, split,
           (${Num.sqlHash("doc_id")} + i) % 8 AS shard,
           LEN(toks[i * 56 + 1 : i * 56 + 64]) AS n_chunk_tokens
         FROM (SELECT doc_id, split, STRING_SPLIT(text, ' ') AS toks,
                 LEN(STRING_SPLIT(text, ' ')) AS n
               FROM surv),
              LATERAL (SELECT UNNEST(RANGE((n - 1) // 56 + 1)) AS i))
       SELECT split, shard, COUNT(*) AS n_chunks,
         COUNT(DISTINCT doc_id) AS n_docs,
         CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens
       FROM chunks GROUP BY split, shard ORDER BY split, shard""")

  /** Relative-rank quality pruning — keep the top `keepPermille`‰ of
    * each group by score, the "train on the best 30 % per language"
    * selection every curation recipe ends with. A FIXED score cutoff
    * drifts as the corpus mix shifts; the relative form self-adapts
    * per group. The keep test is `rank · 1000 ≤ keepPermille · n` in
    * pure integer arithmetic (rank from a per-group window ordered by
    * score desc, doc_id tiebreak so equal scores resolve identically
    * in both engines) — no float ratio, no percent_rank (whose
    * n−1 denominator and float compare are exactly the portability
    * trap the cross-multiplied form avoids).
    *
    * Scale shape: one shuffle on the group key; per-group windows are
    * bounded by group size, and groups here are languages —
    * dozens-cardinality with corpus-sized groups, so at 100 TB the
    * window becomes the bottleneck. The documented swap: compute the
    * per-group score threshold from a mergeable quantile sketch
    * (`percentile_approx(score, 1 − keep)`), broadcast it back, and
    * prune with a map-side predicate — same result modulo sketch
    * error, no giant window. Kept exact here because the gate
    * hash-compares. */
  def pruneByRelativeRank(docs: org.apache.spark.sql.DataFrame,
                          groupCol: String, scoreCol: String, idCol: String,
                          keepPermille: Int): org.apache.spark.sql.DataFrame = {
    require(keepPermille >= 1 && keepPermille <= 1000,
      s"pruneByRelativeRank: keepPermille must be in [1, 1000], got $keepPermille")
    // the output carries the per-group rank as `rk`; refuse inputs
    // that already use the name (or the internal counter) rather than
    // silently overwriting them — same contract as asofJoin's
    // reserved-column guard
    val clash = docs.columns.filter(c => c == "rk" || c.startsWith("__graft_"))
    require(clash.isEmpty,
      s"pruneByRelativeRank input must not contain 'rk' or __graft_* " +
        s"columns; found: ${clash.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs
      .withColumn("rk", row_number().over(w))
      .withColumn("__graft_n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("rk") * lit(1000) <= lit(keepPermille) * col("__graft_n"))
      .drop("__graft_n")
  }

  /** Graded instantiation: top 30 % per language by vocabulary
    * richness (distinct whitespace tokens — an integer quality proxy;
    * the length/symbol-ratio axes are q_quality_rules' territory). */
  val qQualityPrune = Q(
    (s, d) =>
      pruneByRelativeRank(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(array_distinct(split(col("text"), " "))).as("score")),
        "lang", "score", "doc_id", keepPermille = 300)
        .select(col("doc_id"), col("lang"), col("score"), col("rk"))
        .orderBy(col("doc_id")),
    """WITH sc AS (SELECT doc_id, lang,
            CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT) AS score
          FROM documents),
       r AS (SELECT doc_id, lang, score,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY score DESC, doc_id ASC) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
             FROM sc)
       SELECT doc_id, lang, score, rk FROM r
       WHERE rk * 1000 <= 300 * n ORDER BY doc_id""")

  /** Deterministic epoch ordering + shard assignment — the
    * reproducible-dataloader step: epoch E's global example order is
    * a pseudorandom permutation any worker can recompute from (docs,
    * E) alone — no stored shuffle files, no RNG state to checkpoint,
    * and a preempted job resumes mid-epoch by recomputing the same
    * assignment. The portable two-round hash of an epoch-offset
    * doc_id picks the shard (h mod shards) and orders WITHIN the
    * shard (row_number over (h, doc_id) — doc_id breaks residual
    * hash collisions, so the permutation is total and deterministic).
    * The only sort is per-shard: one exchange on the shard key, then
    * a shard-local sort — shards are sized so one shard is one
    * dataloader file that fits an executor, and no global sort exists
    * at any corpus size. Different epochs permute differently;
    * re-running an epoch reproduces the order bit-for-bit (spec-pinned).
    *
    * PUBLIC composable form (exported via [[graft.Graft]]). */
  def epochOrder(docs: org.apache.spark.sql.DataFrame, epoch: Int,
                 shards: Int = 8): org.apache.spark.sql.DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"))
      .withColumn("h",
        expr(Num.hashExpr(s"(doc_id + ${epoch.toLong * 1000003L})")))
      .withColumn("shard", expr(s"h % $shards"))
      .withColumn("rank_in_shard", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("rank_in_shard"))
      .orderBy(col("doc_id"))
  }

  val qEpochOrder = Q(
    (s, d) => epochOrder(Tables.documents(s, d), epoch = 1),
    s"""SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
              CAST(ROW_NUMBER() OVER
                (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT)
                AS rank_in_shard
       FROM (SELECT doc_id, ${Num.sqlHash("(doc_id + 1000003)")} AS h
             FROM documents)
       ORDER BY doc_id""")

  /** Funnel attrition report for the chained quality gate — per stage
    * (applied cumulatively, cheapest first, the q_quality_rules /
    * q_dataset_build order): docs entering, surviving, and dropped.
    * The observability table every large curation run needs: it says
    * WHICH gate is shedding data before anyone re-runs a 100 TB scan
    * per-stage to find out.
    *
    * Plan shape: ONE corpus pass — all four cumulative pass-flags are
    * conditional sums inside a single aggregate (no per-stage scans,
    * no shuffle beyond the 1-row agg), and the per-stage rows come
    * from `inline()` over the finished counters, a 4-row driver-free
    * unpivot. At 100 TB this costs exactly one scan. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): funnel
    * report over any (doc_id, text, n_chars) frame. */
  def filterFunnel(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      docs
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("c1", (col("n_tokens").between(10, 100000)).cast("long"))
        .withColumn("c2", (col("c1") === 1L &&
          (length(regexp_replace(col("text"), " ", "")).cast("double")
            / col("n_tokens")).between(2.0, 12.0)).cast("long"))
        .withColumn("c3", (col("c2") === 1L &&
          size(expr("regexp_extract_all(text, '[^a-z ]', 0)")).cast("double")
            / col("n_chars") < 0.1).cast("long"))
        .withColumn("c4", (col("c3") === 1L &&
          array_contains(col("toks"), "the")).cast("long"))
        .agg(count(lit(1)).as("n0"), sum(col("c1")).as("n1"),
          sum(col("c2")).as("n2"), sum(col("c3")).as("n3"),
          sum(col("c4")).as("n4"))
        .selectExpr(
          """inline(array(
               struct('1_token_bounds'  AS stage, n0 AS n_in, n1 AS n_kept),
               struct('2_word_len_band' AS stage, n1 AS n_in, n2 AS n_kept),
               struct('3_symbol_ratio'  AS stage, n2 AS n_in, n3 AS n_kept),
               struct('4_stopword'      AS stage, n3 AS n_in, n4 AS n_kept)))""")
        .withColumn("n_dropped", col("n_in") - col("n_kept"))
        .orderBy(col("stage"))

  val qFilterFunnel = Q(
    (s, d) => filterFunnel(Tables.documents(s, d)),
    """WITH flags AS (
         SELECT CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END AS c1,
           CASE WHEN n_tokens BETWEEN 10 AND 100000
                 AND mean_word_len BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END AS c2,
           CASE WHEN n_tokens BETWEEN 10 AND 100000
                 AND mean_word_len BETWEEN 2.0 AND 12.0
                 AND symbol_ratio < 0.1 THEN 1 ELSE 0 END AS c3,
           CASE WHEN n_tokens BETWEEN 10 AND 100000
                 AND mean_word_len BETWEEN 2.0 AND 12.0
                 AND symbol_ratio < 0.1 AND has_stopword THEN 1 ELSE 0 END AS c4
         FROM (SELECT
                 CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
                 CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                   / LEN(STRING_SPLIT(text, ' ')) AS mean_word_len,
                 CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z ]')) AS DOUBLE)
                   / n_chars AS symbol_ratio,
                 LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the') AS has_stopword
               FROM documents)),
       agg AS (
         SELECT COUNT(*) AS n0,
                CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
                CAST(SUM(c3) AS BIGINT) AS n3, CAST(SUM(c4) AS BIGINT) AS n4
         FROM flags)
       SELECT stage, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
         SELECT '1_token_bounds'  AS stage, n0 AS n_in, n1 AS n_kept FROM agg
         UNION ALL
         SELECT '2_word_len_band' AS stage, n1 AS n_in, n2 AS n_kept FROM agg
         UNION ALL
         SELECT '3_symbol_ratio'  AS stage, n2 AS n_in, n3 AS n_kept FROM agg
         UNION ALL
         SELECT '4_stopword'      AS stage, n3 AS n_in, n4 AS n_kept FROM agg)
       ORDER BY stage""")

  /** Corpus dataset card — the scalar summary block every published
    * training set ships (datasheet/dataset-card practice): doc and
    * token totals, source/language cardinalities, doc-length extremes
    * and the integer-permille mean, as one (metric, value) table.
    * The distribution-shaped companions are separate graded queries
    * (q_length_histogram, q_length_deciles, q_token_percentiles);
    * this is the header block above them.
    *
    * Plan shape, chosen for 100 TB: ONE corpus pass aggregated at the
    * (source, lang) grain — a dimension-sized shuffle — and every
    * card metric derives from that rollup: the countDistincts and the
    * global sums/extremes all run over |sources|×|langs| rows. A
    * direct multi-countDistinct over the corpus would Expand the scan
    * ×3 (the rejected plan q_profile_table documents); grouping first
    * keeps the corpus traffic at exactly one partial-agg'd exchange.
    * The unpivot is inline() over the finished scalars — driver-free. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): the card
    * of any (text, source, lang, n_chars) frame. */
  def datasetCard(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nd"), sum(col("toks")).as("nt"),
        sum(col("n_chars")).as("nc"),
        min(col("toks")).as("mn"), max(col("toks")).as("mx"))
      .agg(sum(col("nd")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"),
        min(col("mn")).as("min_toks"), max(col("mx")).as("max_toks"))
      .selectExpr(
        """inline(array(
             struct('01_n_docs'          AS metric, n_docs   AS value),
             struct('02_n_sources'       AS metric, n_sources AS value),
             struct('03_n_langs'         AS metric, n_langs  AS value),
             struct('04_n_tokens'        AS metric, n_tokens AS value),
             struct('05_n_chars'         AS metric, n_chars  AS value),
             struct('06_min_doc_tokens'  AS metric, min_toks AS value),
             struct('07_max_doc_tokens'  AS metric, max_toks AS value),
             struct('08_mean_doc_tokens_permille' AS metric,
                    n_tokens * 1000 DIV n_docs AS value)))""")
      .orderBy(col("metric"))

  val qDatasetCard = Q(
    (s, d) => datasetCard(Tables.documents(s, d)),
    """WITH per AS (
         SELECT source, lang, COUNT(*) AS nd,
           SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS nt,
           SUM(n_chars) AS nc,
           MIN(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS mn,
           MAX(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)) AS mx
         FROM documents GROUP BY source, lang),
       card AS (
         SELECT CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(MIN(mn) AS BIGINT) AS min_toks,
           CAST(MAX(mx) AS BIGINT) AS max_toks
         FROM per)
       SELECT metric, value FROM (
         SELECT '01_n_docs' AS metric, n_docs AS value FROM card
         UNION ALL SELECT '02_n_sources', n_sources FROM card
         UNION ALL SELECT '03_n_langs', n_langs FROM card
         UNION ALL SELECT '04_n_tokens', n_tokens FROM card
         UNION ALL SELECT '05_n_chars', n_chars FROM card
         UNION ALL SELECT '06_min_doc_tokens', min_toks FROM card
         UNION ALL SELECT '07_max_doc_tokens', max_toks FROM card
         UNION ALL SELECT '08_mean_doc_tokens_permille',
                          n_tokens * 1000 // n_docs FROM card)
       ORDER BY metric""")

  val defs: Map[String, Q] = Map(
    "q_dataset_card" -> qDatasetCard,
    "q_filter_funnel" -> qFilterFunnel,
    "q_epoch_order" -> qEpochOrder,
    "q_quality_prune" -> qQualityPrune,
    "q_dataset_build" -> qDatasetBuild,
    "q_sample_weighted" -> qSampleWeighted,
    "q_chunk_documents" -> qChunkDocuments,
    "q_quality_rules" -> qQualityRules,
    "q_pii_redact" -> qPiiRedact,
    "q_repetition_ratio" -> qRepetitionRatio,
    "q_sample_stratified" -> qSampleStratified,
    "q_sample_per_group" -> qSamplePerGroup,
    "q_pack_sequences" -> qPackSequences,
    "q_token_percentiles" -> qTokenPercentiles,
    "q_mix_sources" -> qMixSources,
    "q_length_deciles" -> qLengthDeciles,
    "q_length_histogram" -> qLengthHistogram,
    "q_curation_pipeline" -> qCurationPipeline)
}
