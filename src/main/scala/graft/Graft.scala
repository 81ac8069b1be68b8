package graft

import org.apache.spark.sql.{Column, DataFrame}

/** The library's user-facing API — one object collecting the
  * composable operators the query registry exercises, so a user of
  * the reference pipeline (or any Spark application) can call them
  * directly on their own DataFrames instead of going through the
  * registry. Each function delegates to the ops module a graded,
  * DuckDB-oracle-checked query runs (asofJoin's generic form is
  * additionally pinned by a spec against the literal theta-join
  * definition); none of them mutate session state.
  *
  * Conventions: document frames carry (doc_id LONG, text STRING),
  * embedding frames carry (vec_id LONG, embedding ARRAY<FLOAT>),
  * edge frames carry (src, dst, w LONG). Columns beyond those are
  * passed through where the op allows.
  *
  * For the ingest/medallion surface (HTTP landing, JDBC round-trip,
  * parquet sinks, money parsing, bronze→silver→gold composition) see
  * [[graft.sources.Landing]], [[graft.etl.Clean]] and
  * [[graft.etl.Medallion]]; for the Structured Streaming surface see
  * [[graft.streaming.StreamingDemo]]; for the Catalyst extensions
  * (auto-binned range joins, plan-time money folding, sort before
  * project, bounded top-k physical operator) see [[graft.plans.GraftExtensions]]. */
object Graft {

  // ---- session wiring ------------------------------------------------

  /** Wire the whole engine into a LIVE session in one call: registers
    * the SQL functions (`parse_money` UDF + `exact_money_sum` UDAF,
    * codegen'd `parse_money_native` and `dot_f` expressions), the
    * optimizer rules (BinRangeJoin auto-binning, plan-time
    * parse_money_native constant folding, SortBeforeProject — a global
    * sort's computed projection runs once, after the range shuffle;
    * `Tables.read` also installs this one) and the TopKPerKey planner
    * strategy — the runtime twin of setting
    * `spark.sql.extensions=graft.plans.GraftExtensions` at session
    * build (the cluster-deployment path, which remains preferred when
    * you control the session: build-time extensions also cover
    * sessions cloned with `newSession()`). Idempotent: safe to call
    * from every notebook cell. */
  def enable(spark: org.apache.spark.sql.SparkSession): Unit = {
    udf.Money.register(spark)
    functions.ParseMoneyExpr.register(spark)
    functions.DotProductExpr.register(spark)
    if (!spark.experimental.extraOptimizations.contains(plans.BinRangeJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.BinRangeJoin
    if (!spark.experimental.extraOptimizations.contains(plans.FoldParseMoney))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.FoldParseMoney
    plans.SortBeforeProject.register(spark)
    if (!spark.experimental.extraStrategies.contains(plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.TopKPerKeyStrategy
  }

  // ---- text ----------------------------------------------------------

  /** Canonical ASCII text normalization: lowercase, fold non-[a-z0-9]
    * runs to one space, trim. Idempotent. */
  def normalizeText(c: Column): Column = ops.TextOps.normalizeText(c)

  /** Unicode-aware variant: folds runs outside `\p{L}`/`\p{N}` — the
    * multilingual-corpus form. Idempotent. */
  def normalizeTextUnicode(c: Column): Column =
    ops.TextOps.normalizeTextUnicode(c)

  /** Chunk (doc_id, text) into `chunkSize`-token windows at `stride`
    * (overlap = chunkSize − stride), shard-routed by a portable hash.
    * Narrow map+explode — no shuffle at any corpus size. */
  def chunkDocuments(docs: DataFrame, chunkSize: Int = 64,
                     stride: Int = 56, shards: Int = 8): DataFrame =
    ops.PipelineOps.chunkDocuments(docs, chunkSize, stride, shards)

  /** Deterministic epoch ordering: (doc_id, shard, rank_in_shard) —
    * epoch E's pseudorandom permutation, recomputable from (docs, E)
    * alone; per-shard sort only, never global. */
  def epochOrder(docs: DataFrame, epoch: Int, shards: Int = 8): DataFrame =
    ops.PipelineOps.epochOrder(docs, epoch, shards)

  // ---- dedup ---------------------------------------------------------

  /** Screen an incoming batch against an existing corpus via
    * MinHash/LSH banding: candidates strictly batch×corpus, exact
    * jaccard confirm, one decision row per matched batch doc. Runs
    * unchanged inside a Structured Streaming `foreachBatch` (keep
    * `persistBatch = false` there — per-batch cache entries would
    * accumulate; set it true only for large one-shot backfills, and
    * own the entry's lifetime). */
  def nearDupScreen(corpus: DataFrame, batch: DataFrame,
                    threshold: Double = 0.5,
                    persistBatch: Boolean = false): DataFrame =
    ops.TextOps.nearDupScreen(corpus, batch, threshold, persistBatch)

  /** MinHash/LSH near-dup pairs of a (doc_id, text) frame: banded
    * candidates, exact-jaccard confirm — (doc_a, doc_b, jaccard),
    * doc_a < doc_b. Never all-pairs. */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    ops.TextOps.minhashNearDupPairs(docs, threshold)

  /** Blocked sorted-neighborhood near-dup pairs: per-block rank
    * windows over the normalized key + (block, rank+offset) equi-join
    * + prefix-levenshtein confirm — (doc_a, doc_b, lev). */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 2,
                              maxLev: Int = 16): DataFrame =
    ops.TextOps.sortedNeighborhoodPairs(docs, window, maxLev)

  /** SimHash near-dup pairs: 16-bit band-collision candidates
    * confirmed by signature hamming distance — (doc_a, doc_b,
    * hamming). The noisier family on short docs; see
    * [[ensembleNearDupPairs]]. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame =
    ops.TextOps.simhashPairs(docs, maxHamming)

  /** Union of the three independent near-dup families (MinHash
    * content overlap, sorted-neighborhood edit distance, SimHash
    * hamming) with per-method provenance flags — a pair flagged by 2+
    * methods is near-certain. Constituents are memoized per session,
    * so this adds one union + groupBy over calling them directly. */
  def ensembleNearDupPairs(docs: DataFrame): DataFrame =
    ops.TextOps.ensembleNearDupPairs(docs)

  /** Near-dup pair counts rolled up by source pair (least/greatest
    * canonicalized) — which sources duplicate which. Pair frame is
    * dup-graph-sized; enrichment joins are equi on doc_id against the
    * pruned (doc_id, source) projection. */
  def crossSourceDupMatrix(docs: DataFrame, threshold: Double = 0.5,
                           sourceCol: String = "source"): DataFrame =
    ops.TextOps.crossSourceDupMatrix(docs, threshold, sourceCol)

  /** Cluster-size histogram of a dedup run, including the size-1 row
    * (docs in no cluster) so the rows sum to the corpus. `clusters`
    * is any (cluster_id, cluster_size) table, e.g. the near-dup
    * components output. */
  def dedupClusterSizes(docs: DataFrame, clusters: DataFrame): DataFrame =
    ops.TextOps.dedupClusterSizes(docs, clusters)

  /** Per-source dedup decision table: docs in clusters, survivors
    * after min-id canonicalization, integer-permille removal rate.
    * `clusters` must be min-id-labeled (cluster_id == the component's
    * minimum doc_id, as the near-dup components emit). `sourceCol`
    * names the stratum column, matching [[crossSourceDupMatrix]]. */
  def dedupRateBySource(docs: DataFrame, clusters: DataFrame,
                        sourceCol: String = "source"): DataFrame =
    ops.TextOps.dedupRateBySource(docs, clusters, sourceCol)

  /** Flag corpus docs sharing >= `minOverlap` word n-grams with an
    * evaluation set (benchmark decontamination). Default n = 2
    * (bigrams, the graded query's setting); production pipelines use
    * longer grams (GPT-3: 13) with minOverlap near 1. The bench
    * shingle set stays eval-corpus-sized — broadcast, never a
    * corpus-sized build side. */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    minOverlap: Int = 3, n: Int = 2): DataFrame =
    ops.TextOps.decontaminate(corpus, bench, minOverlap, n)

  /** Keep the best member of each MinHash near-dup cluster by
    * `qualityCol` (keep-the-longest-duplicate etc.) — the dedup
    * DECISION, not just the pair list. Returns (cluster_id,
    * survivor_id, n_members) for multi-member clusters. */
  def survivorsByQuality(docs: DataFrame, qualityCol: String,
                         threshold: Double = 0.5): DataFrame =
    ops.TextOps.survivorsByQuality(docs, qualityCol, threshold)

  /** 80/10/10 train/val/test assignment BY NEAR-DUP CLUSTER (MinHash
    * pair graph → connected components → portable hash on the cluster
    * id): a doc and its twins never straddle splits, so eval can't
    * see a paraphrase of a training doc. */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    ops.TextOps.leakageSafeSplit(docs, threshold)

  /** Per-document duplicated-substring mass (distributed analog of
    * suffix-array substring dedup): fraction of the doc's token
    * k-grams, counted at every position, that also occur in another
    * doc — (doc_id, n_shingles, n_dup, dup_permille, flagged).
    * Catches partial duplication whole-document methods miss.
    * The facade defaults to `hashedKeys = true` — the scale form
    * whose two shuffles move 8-byte `xxhash64` keys instead of
    * verbatim gram strings (~6× smaller); pass `false` to shuffle
    * the verbatim grams (the form the graded oracle replays). */
  def substringHotness(docs: DataFrame, k: Int = 7,
                       flagPermille: Int = 200,
                       hashedKeys: Boolean = true): DataFrame =
    ops.TextOps.substringHotness(docs, k, flagPermille, hashedKeys)

  /** APPLY side of [[substringHotness]]: remove every token position
    * covered by a k-gram occurring in ≥ minDocs distinct docs and
    * reassemble the survivors in order — (doc_id, clean_text, n_kept,
    * n_removed), one row per input doc (fully-boilerplate docs keep
    * their key with an empty clean_text). */
  def spanScrub(docs: DataFrame, k: Int = 7, minDocs: Int = 2): DataFrame =
    ops.TextOps.spanScrub(docs, k, minDocs)

  /** Asymmetric containment pairs |A ∩ B| / min(|A|, |B|) over
    * distinct k-gram sets — catches a doc quoted inside a much larger
    * one, which jaccard under-scores. Pairs via shared-shingle
    * equi-join with a boilerplate fanout cap, never all-pairs. */
  def containmentPairs(docs: DataFrame, k: Int = 7,
                       minPermille: Int = 500): DataFrame =
    ops.TextOps.containmentPairs(docs, k, minPermille)

  // ---- data quality ---------------------------------------------------

  /** Per-column profile (rows, non-nulls, exact distincts, rendered
    * min/max) — one pruned single-column aggregate per entry, unioned.
    * `render` makes min/max strings engine-portable (decimal-fix
    * doubles, date_format timestamps); pass `identity` for ints and
    * strings. For an expensive derived frame pass
    * `persistInput = true` (the profiler scans the input once per
    * column; release the cache afterwards with `df.unpersist()`). */
  def profile(df: DataFrame, cols: Seq[(String, Column => Column)],
              persistInput: Boolean = false): DataFrame =
    ops.QualityOps.profile(df, cols, persistInput)

  /** Run named row-count constraints (each a one-row aggregate frame)
    * and emit (constraint_name, violations, passed) per check. */
  def checkConstraints(checks: Seq[ops.QualityOps.Check]): DataFrame =
    ops.QualityOps.checkConstraints(checks)

  /** Per-group robust outlier counts via exact discrete quartiles and
    * cross-multiplied Tukey fences — (group, n, q1, q3, n_hi, n_lo). */
  def outliersIqr(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    ops.QualityOps.outliersIqr(df, groupCol, valueCol)

  /** Top-`topK` heaviest values of a prospective shuffle key with
    * share (permille) and skew factor vs the mean key (×1000) — the
    * pre-shuffle diagnostic that decides between plain hashing,
    * salting, and AQE skew-split. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame =
    ops.QualityOps.keySkew(df, keyCol, topK)

  /** Per-stratum unigram-distribution drift vs the whole frame
    * (integer-PPM total-variation distance) — the domain-shift /
    * scraper-regression detector. */
  def sourceDrift(docs: DataFrame, groupCol: String = "source",
                  textCol: String = "text"): DataFrame =
    ops.QualityOps.sourceDrift(docs, groupCol, textCol)

  /** Keep the top `keepPermille`‰ rows of each group by score
    * (integer cross-multiplied rank test, `idCol` tiebreak) — the
    * relative-rank quality pruning every curation recipe ends with. */
  def pruneByRelativeRank(docs: DataFrame, groupCol: String,
                          scoreCol: String, idCol: String,
                          keepPermille: Int): DataFrame =
    ops.PipelineOps.pruneByRelativeRank(docs, groupCol, scoreCol, idCol, keepPermille)

  // ---- vectors -------------------------------------------------------

  /** Int8 scalar quantization of (vec_id, embedding), exploded to
    * (vec_id, pos, qval, scale); |x − q/scale| ≤ half a step. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    ops.VectorOps.quantizeInt8(embeddings)

  /** Screen a batch of (vec_id, embedding) rows against a corpus
    * frame via the hyperplane-bucket index: candidates strictly
    * batch×corpus, exact cosine confirm, one decision row per
    * matched batch vector — the embedding mirror of
    * [[nearDupScreen]]. Corpus index memoized per session. */
  def embedScreen(corpus: DataFrame, batch: DataFrame,
                  threshold: Double = 0.35): DataFrame =
    ops.VectorOps.embedScreen(corpus, batch, threshold)

  /** Exact cosine top-k of `queries` against `corpus` (both
    * (vec_id, embedding float[])) on the native codegen'd kernel —
    * (query_id, rank, neighbor_id, cosine), broadcast query side.
    * The exact baseline every approximate path is judged against.
    * `excludeSelf` (default true) assumes query and corpus vec_ids
    * share ONE id namespace (a query never returns its own id — the
    * graded-query convention); pass false when the query frame's ids
    * are independent of the corpus's, or a true nearest neighbor that
    * happens to share an id is silently dropped. */
  def knnTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              excludeSelf: Boolean = true): DataFrame =
    ops.VectorOps.knnTopK(corpus, queries, k, excludeSelf)

  /** LSH-bucketed approximate top-k — the scale path: queries score
    * only same-bucket corpus vectors, corpus index memoized per
    * session. Measure recall on a sampled query set (the
    * q_ann_recall / q_ann_cost convention) before trusting a dial.
    * `excludeSelf` as in [[knnTopK]]: default assumes one shared id
    * namespace; pass false for an independent query id space. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
              excludeSelf: Boolean = true): DataFrame =
    ops.VectorOps.annTopK(corpus, queries, k, excludeSelf)

  // ---- joins ---------------------------------------------------------

  /** Inner-join fact to dim on long keys with a fixed-size bloom
    * pre-filter probed on the fact side BEFORE the shuffle — result
    * identical to the plain join, shuffle bytes shed by roughly the
    * dim's selectivity. */
  def bloomPruneJoin(fact: DataFrame, factKey: String,
                     dim: DataFrame, dimKey: String,
                     expectedItems: Long = 100000L,
                     fpp: Double = 0.01): DataFrame =
    ops.Advanced.bloomPruneJoin(fact, factKey, dim, dimKey, expectedItems, fpp)

  /** Join-condition hint that activates the BinRangeJoin optimizer
    * rule: `fact.join(dim, x >= lo && x < hi && Graft.binWidth(w, x,
    * lo))` plans as a binned equi-join instead of a nested loop. */
  def binWidth(w: Double, probe: Column, bound: Column): Column =
    plans.BinWidthHint.binWidth(w, probe, bound)

  /** Bounded per-key top-k through the custom TopKPerKeyExec physical
    * operator (heap per key, never a full window sort). */
  def topKPerKey(df: DataFrame, keys: Seq[String],
                 order: Seq[(String, Boolean)], k: Int): DataFrame =
    plans.TopKPerKey.topKPerKey(df, keys, order, k)

  /** As-of join without a range join: for each `left` row, the latest
    * `right` row of the same `key` with `time` at-or-before the left
    * row's — the price-at-trade-time / last-click-attribution shape.
    * Tagged union + one running window per key (linear in rows, one
    * shuffle on `key`), never the O(left × right) per-key nested loop
    * a theta join would plan. Appends `asof_ts` (the matched right
    * time, null if none) and `asof_<valueCol>`. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               time: String, valueCol: String): DataFrame =
    ops.Relational.asofJoin(left, right, key, time, valueCol)

  /** Per-interval count of other overlapping intervals (closed
    * semantics) via the distributed sweep-line identity — binned
    * two-phase prefix sums, per-bin running windows, no quadratic
    * interval×interval join. `idCols` must uniquely identify a row;
    * returns (idCols..., __s, __e, n_overlapping). */
  def intervalOverlapCounts(iv: DataFrame, idCols: Seq[String],
                            sCol: String, eCol: String,
                            binWidth: Long = 3600L): DataFrame =
    ops.EventsOps.intervalOverlapCounts(iv, idCols, sCol, eCol, binWidth)

  /** Rolling `windowHours`-hour distinct users per hourly bucket plus
    * the hourly/rolling "stickiness" permille — each event fans out
    * to the buckets its timestamp feeds (events × windowHours rows),
    * one distinct-count groupBy, future partial windows dropped.
    * Returns (bucket_hr, n_users_1h, n_users_24h, stickiness_permille). */
  /** Sketch twin of [[rollingUniques]]: per-hour HLL partials merged
    * over the trailing window — fan-out hours×window instead of
    * events×window; estimates carry ~1.6% rel. std. at the default
    * lgConfigK. */
  def rollingUniquesHll(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts", windowHours: Int = 24,
                        lgConfigK: Int = 12): DataFrame =
    ops.EventsOps.rollingUniquesHll(events, userCol, tsCol, windowHours, lgConfigK)

  def rollingUniques(events: DataFrame, userCol: String = "user_id",
                     tsCol: String = "ts", windowHours: Int = 24): DataFrame =
    ops.EventsOps.rollingUniques(events, userCol, tsCol, windowHours)

  /** Pairwise Jaccard (as integer permille) of the user sets behind
    * each event type — audience-overlap analytics. Pair join keyed on
    * the user, so volume is users × types², never users². */
  def audienceOverlap(events: DataFrame, typeCol: String = "event_type",
                      userCol: String = "user_id"): DataFrame =
    ops.EventsOps.audienceOverlap(events, typeCol, userCol)

  /** Rate-spike flags over any (typeCol, tsCol) event frame: hourly
    * counts, then the trailing-24h ×2-average threshold evaluated in
    * pure integer arithmetic. */
  def rateSpikes(events: DataFrame, typeCol: String = "event_type",
                 tsCol: String = "ts"): DataFrame =
    ops.EventsOps.rateSpikes(events, typeCol, tsCol)

  /** First-order Markov transition matrix over per-user event
    * sequences: (from_type, to_type, n, n_from, p_permille). One lag
    * window keyed on the user, |types|²-sized from there on. */
  def eventTransitions(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type", tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame =
    ops.EventsOps.eventTransitions(events, userCol, typeCol, tsCol, idCol)

  /** RFM (recency / frequency / monetary) segmentation of an orders
    * frame into the 4×4×4 quartile grid. The DEFAULT is the
    * threshold-based scale path (one `percentile_approx` pass per
    * metric, thresholds broadcast back — nothing ever
    * single-partition-sorts the customer table; NTILE-equal on
    * tie-free metrics while customers ≤ accuracy). `exact = true`
    * opts into the three global-sort NTILE(4) windows instead —
    * rank-exact and fully deterministic via the customer-key
    * tiebreaker, but a single-task sort per metric, so treat it as a
    * DIAGNOSTIC grain for ≲1e7 customers, not the production default
    * (round-10 verdict: the exact form is the classic 100×
    * scale-killer; the default must be the plan that survives). */
  def rfmSegments(orders: DataFrame, custCol: String = "o_custkey",
                  dateCol: String = "o_orderdate",
                  priceCol: String = "o_totalprice",
                  exact: Boolean = false,
                  accuracy: Int = 10000): DataFrame =
    if (exact) ops.Advanced.rfmSegments(orders, custCol, dateCol, priceCol)
    else ops.Advanced.rfmSegmentsApprox(orders, custCol, dateCol, priceCol, accuracy)

  /** Explicit-name alias of the default [[rfmSegments]] path (kept
    * for callers written against the pre-r11 facade, where the
    * threshold form was the opt-in and the NTILE form the default). */
  def rfmSegmentsApprox(orders: DataFrame, custCol: String = "o_custkey",
                        dateCol: String = "o_orderdate",
                        priceCol: String = "o_totalprice",
                        accuracy: Int = 10000): DataFrame =
    ops.Advanced.rfmSegmentsApprox(orders, custCol, dateCol, priceCol, accuracy)

  /** BM25 top-k document ranking for a bag of query terms over a
    * (doc_id, text) frame — log-free rational idf, integer micro-unit
    * scores (order-independent sums, bit-exact across engines). */
  def bm25Rank(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame =
    ops.TextOps.bm25Rank(docs, terms, k)

  /** Inverted index over a (doc_id, text) frame: (term, df, postings)
    * with the sorted posting list capped at `maxPostings` so no output
    * row grows with the corpus. */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 1000): DataFrame =
    ops.TextOps.invertedIndex(docs, maxPostings)

  /** Heaps'-law vocabulary-growth curve: new + cumulative distinct
    * bigrams per `bucketDocs`-document checkpoint in doc_id order — a
    * flattening curve means new data re-treads old vocabulary. */
  def vocabGrowth(docs: DataFrame, bucketDocs: Int = 50): DataFrame =
    ops.TextOps.vocabGrowth(docs, bucketDocs)

  /** Bigram-LM fluency score over a (doc_id, text) frame: integer
    * permille of mean p(w2|w1) under the corpus's own bigram model —
    * the KenLM-style perplexity-proxy quality filter. Docs with < 2
    * tokens carry no bigram evidence and are excluded. */
  def fluencyScore(docs: DataFrame): DataFrame =
    ops.TextOps.fluencyScore(docs)

  /** Per-doc OOV rate (integer permille) against the frame's own
    * top-`vocabSize` token vocabulary — the tokenizer-coverage /
    * unk-rate estimate. Vocab ties break on the term so the set is
    * total-ordered and reproducible. */
  def oovRate(docs: DataFrame, vocabSize: Int = 20): DataFrame =
    ops.TextOps.oovRate(docs, vocabSize)

  /** Per-doc novelty: of each doc's distinct trigrams, the permille
    * whose global first appearance (min doc_id) is this doc — the
    * does-this-shard-add-anything signal. */
  def ngramNovelty(docs: DataFrame): DataFrame =
    ops.TextOps.ngramNovelty(docs)

  /** Record-linkage fuzzy matching: (name_a, name_b, dist) pairs of
    * distinct `nameCol` values within edit distance `maxDist`, found
    * by q-gram + length-bucket blocking then banded levenshtein.
    * Recall caveat: blocking is complete only for values of length
    * ≥ q + maxDist·q — lower `q` (or pad) for short codes. `hotGramCap`
    * drops grams shared by more values than the cap from blocking. */
  def fuzzyMatchPairs(names: DataFrame, nameCol: String, maxDist: Int = 2,
                      q: Int = 3,
                      hotGramCap: Int = ops.TextOps.MaxGramFanout): DataFrame =
    ops.TextOps.fuzzyMatchPairs(names, nameCol, maxDist, q, hotGramCap)

  /** Entity resolution over a (name, id) frame: fuzzy-match pairs →
    * connected components → (name, entity_id, n_members), entity_id =
    * the component's minimum Long-cast `idCol`. */
  def entityResolve(names: DataFrame, nameCol: String, idCol: String,
                    maxDist: Int = 2, gramSize: Int = 3): DataFrame =
    ops.TextOps.entityResolve(names, nameCol, idCol, maxDist, gramSize)

  // ---- pipelines -----------------------------------------------------

  /** Full dataset build over a (doc_id, text, n_chars) frame as ONE
    * lazy plan: quality gate → exact dedup → deterministic 80/10/10
    * hash split → chunk → per-(split, shard) chunk/doc/token counts.
    * Pass `n_chars` = `length(text)` if nothing better is
    * precomputed. */
  def datasetBuild(docs: DataFrame): DataFrame =
    ops.PipelineOps.datasetBuild(docs)

  /** Corpus dataset card: doc/token totals, source/lang cardinalities,
    * doc-length extremes and integer-permille mean as one
    * (metric, value) table — one corpus pass at (source, lang) grain. */
  def datasetCard(docs: DataFrame): DataFrame =
    ops.PipelineOps.datasetCard(docs)

  /** Cumulative quality-gate attrition report over a (doc_id, text,
    * n_chars) frame — (stage, n_in, n_kept, n_dropped) per gate, all
    * four gates costed in ONE corpus scan. */
  def filterFunnel(docs: DataFrame): DataFrame =
    ops.PipelineOps.filterFunnel(docs)

  /** Market-basket co-occurrence pairs with support counts and
    * integer-exact lift (permille): pairs join within the basket key
    * only — volume Σ k(k−1)/2 over basket sizes, never items². */
  def copurchasePairs(baskets: DataFrame, basketCol: String,
                      itemCol: String, minSupport: Long = 2L): DataFrame =
    ops.Advanced.copurchasePairs(baskets, basketCol, itemCol, minSupport)

  // ---- CDC / incremental refresh -------------------------------------

  /** Classify every `key` across two snapshots (each carrying `key`
    * and `valueCol`) as added / removed / changed via one full-outer
    * join; unchanged rows never leave the join. Output feeds
    * [[mergeUpsert]]; merge(old, diff(old, new)) == new. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   key: String, valueCol: String): DataFrame =
    ops.Relational.snapshotDiff(oldSnap, newSnap, key, valueCol)

  /** Apply a [[snapshotDiff]] delta onto a base snapshot: tombstone
    * removals, upsert adds/changes latest-wins — the MERGE INTO shape
    * in vanilla Spark. One shuffle on the key. */
  def mergeUpsert(base: DataFrame, delta: DataFrame,
                  key: String, valueCol: String): DataFrame =
    ops.Relational.mergeUpsert(base, delta, key, valueCol)

  /** Collapse an event stream into SCD Type-2 state regimes per user:
    * (user_id, event_type, valid_from, valid_to) with valid_to = 0
    * marking the open regime. One shuffle on the user key. */
  def scd2History(events: DataFrame): DataFrame =
    ops.EventsOps.scd2History(events)

  /** Point-in-time reconstruction from an SCD2 history frame: the one
    * regime per key covering instant `at` (epoch seconds). A pruned
    * filter, not a join — the payoff of the SCD2 layout. */
  def scd2SnapshotAt(history: DataFrame, at: Column): DataFrame =
    ops.EventsOps.scd2SnapshotAt(history, at)

  // ---- graphs --------------------------------------------------------

  /** Fixed-point PageRank (damping 0.85, ranks int64-scaled by 1e9,
    * dangling mass dropped) over (src, dst, w) edges and (node)
    * nodes. Integer arithmetic throughout: bit-identical results on
    * any partitioning. */
  def pagerankFixedPoint(edges: DataFrame, nodes: DataFrame,
                         iterations: Int): DataFrame =
    ops.GraphOps.pagerankFixedPoint(edges, nodes, iterations)

  /** Per-node triangle counts over (src, dst) edges (direction and
    * duplicates canonicalized away): degree-ordered orientation →
    * wedge join → closing join → corner explode — the
    * clustering/cohesion kernel. The facade runs the degree-ordered
    * form: wedge volume is O(m^1.5) even when the graph has celebrity
    * hubs (the lexicographic form can generate deg(hub)² wedges). */
  def triangleCounts(edges: DataFrame, nodes: DataFrame): DataFrame =
    ops.GraphOps.triangleCountsDegreeOrdered(edges, nodes)
}
