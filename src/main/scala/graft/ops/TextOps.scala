package graft.ops

import graft.{PinnedFrame, Q, SessionMemo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis + deduplication for a training-data pipeline
  * (north-star ops from the builder brief; SURVEY.md §2B rows
  * Dedup/Text analysis).
  *
  * The corpus is `documents(doc_id, text, lang, source, n_chars)` with
  * whitespace-tokenizable text and planted near-duplicates (~5% of
  * docs have a high-jaccard twin). All operators are pure DataFrame /
  * higher-order-function plans — tokenization, shingling, hashing,
  * folding all happen inside codegen'd expressions; nothing collects
  * to the driver, and every shuffle is on a bounded key (shingle,
  * band hash, group key), which is what lets the same plans run at
  * 100 TB.
  *
  * Scale notes per operator are on each query. */
object TextOps {

  /** Bounds on q_ngram_jaccard's driver-side materializations. The
    * exact all-pairs bitset path is a recall-check twin of the MinHash
    * production path; these caps make its scale limits explicit
    * (fail-fast) instead of conventions that an unwitting 100 TB run
    * would discover as a driver OOM. 1M docs × ~300 B ≈ 300 MB
    * broadcast; 2^17 shingles ≈ 2 k bitmap words/doc. */
  val MaxExactJaccardDocs: Int = 1000000
  val MaxExactJaccardVocab: Int = 131072

  private def tokens(c: Column): Column = split(c, " ")

  /** word bigrams ("shingles") of the token array, deduplicated. */
  private val bigramsExpr =
    """array_distinct(transform(
         sequence(0, size(tokens) - 2),
         i -> concat(element_at(tokens, i + 1), ' ', element_at(tokens, i + 2))))"""

  private def withShingles(df: DataFrame): DataFrame =
    df.withColumn("tokens", tokens(col("text")))
      .filter(size(col("tokens")) >= 2)
      .withColumn("shingles", expr(bigramsExpr))

  /** (doc_id, shingles, sz): the shingle sets every jaccard path scores. */
  private def shingleSets(df: DataFrame): DataFrame =
    withShingles(df).select(col("doc_id"), col("shingles"), size(col("shingles")).as("sz"))

  /** word n-grams for arbitrary n — the generalization of
    * [[withShingles]]'s bigrams that serious decontamination needs
    * (GPT-3/Pile flag 13-gram collisions; bigrams over-flag). Same
    * shape: array_distinct over a transform window, pure map. */
  private def withNgrams(df: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    df.withColumn("tokens", tokens(col("text")))
      .filter(size(col("tokens")) >= n)
      .withColumn("shingles", expr(
        s"""array_distinct(transform(
              sequence(0, size(tokens) - $n),
              i -> array_join(slice(tokens, i + 1, $n), ' ')))"""))
  }

  private val duckShingles =
    """SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(LEN(toks) - 1),
         i -> toks[i + 1] || ' ' || toks[i + 2])) AS shingles
       FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
       WHERE LEN(toks) >= 2"""

  /** Exact-jaccard pair CTEs, the oracle twin of the Spark side's
    * candidates-then-confirm shape. Candidates come from an exploded
    * shingle equi-join (any pair with jaccard > 0 shares >= 1
    * shingle, so the candidate set is a SUPERSET of every passing
    * pair — exact, no recall assumption, unlike a minhash-band
    * mirror), and |A∩B| is counted by GROUP BY instead of
    * materializing list intersections: Σ_shingle df² candidate rows,
    * not n² LIST_INTERSECTs, so every oracle built on it runs at sf0.1
    * (15 s there; the all-pairs form took CPU-hours). `pairCond`
    * restricts the (a, b) side pair, e.g. `a.doc_id < b.doc_id` for a
    * self-join. Yields `pairs(doc_a, doc_b, jaccard)` with jaccard >=
    * 0.5; splice after WITH / WITH RECURSIVE. */
  private def duckJaccardCtes(pairCond: String): String =
    s"""sh AS ($duckShingles),
       dsz AS (SELECT doc_id, LEN(shingles) AS sz FROM sh),
       dex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
       dinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                  FROM dex a JOIN dex b ON a.s = b.s AND $pairCond
                  GROUP BY 1, 2),
       pairs AS (SELECT doc_a, doc_b,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
                 FROM dinter JOIN dsz sa ON sa.doc_id = doc_a
                             JOIN dsz sb ON sb.doc_id = doc_b
                 WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)"""

  /** Exact dedup: hash-groupBy on a content digest. Grouping on
    * sha2(text) instead of the raw text keeps the shuffle key 32 bytes
    * regardless of document size — at 100 TB you never shuffle full
    * documents to find exact dups. */
  val qDedupExact = Q(
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       FROM documents GROUP BY text ORDER BY keep_id""")

  /** Shared stage of the exact-jaccard paths: one packed bitset per
    * doc (doc_id, sz, bm: array<long>). Dense-vocabulary bitset
    * specialization — the corpus draws from a tiny bigram vocabulary
    * (~1k), so each doc's shingle set packs into a ~16-word bitmap and
    * |A∩B| is a handful of AND+popcount ops per pair, orders of
    * magnitude cheaper than hash-set intersection. The vocabulary is
    * collected once and ids assigned on the driver (a distributed
    * global row_number window re-ran the whole pipeline per consumer,
    * ~4 s per execution; measured); width is sized to the actual
    * vocabulary — a fixed width would silently drop bits. On an
    * open-vocabulary corpus the premise degenerates → hard-bounded,
    * pointing at the MinHash production path. */
  def shingleBitmaps(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrElseUpdate(s, s"shingle_bitmaps:$d") {
      // pin the shingle table: both consumers below (vocabulary,
      // bitmap build) re-read it and re-tokenizing per consumer
      // doubles the cost. SessionMemo.pinned, not localCheckpoint: the
      // memo makes this a session-lifetime frame, and checkpoint
      // blocks are non-recomputable on executor loss
      val sh = SessionMemo.pinned(shingleSets(Tables.documents(s, d)))
      import s.implicits._
      val vocabSeq = sh.select(explode(col("shingles")).as("shingle"))
        .distinct().as[String].collect().sorted
      require(vocabSeq.length <= MaxExactJaccardVocab,
        s"exact-jaccard bitset path needs a dense vocabulary (got ${vocabSeq.length} " +
          s"shingles > $MaxExactJaccardVocab); use q_dedup_minhash (MinHash+LSH) at scale")
      val nWords = math.max(1, (vocabSeq.length + 63) / 64)
      val vocab = vocabSeq.zipWithIndex.toSeq.toDF("shingle", "vid")
      // bitmap words via codegen'd bit_or aggregates (a lambda fold
      // here would be interpreted per set bit), then assembled into a
      // fixed-width array with one cheap 32-step transform
      sh.select(col("doc_id"), col("sz"), explode(col("shingles")).as("shingle"))
        .join(broadcast(vocab), Seq("shingle"))
        .groupBy(col("doc_id"), col("sz"), expr("vid div 64").as("word"))
        .agg(expr("bit_or(shiftleft(1L, vid % 64))").as("bits"))
        .groupBy(col("doc_id"), col("sz"))
        .agg(map_from_arrays(collect_list(col("word")), collect_list(col("bits"))).as("m"))
        .withColumn("bm", expr(
          s"transform(sequence(0, ${nWords - 1}), w -> coalesce(element_at(m, cast(w AS INT)), 0L))"))
        .select(col("doc_id"), col("sz"), col("bm"))
    }

  /** Exact n-gram jaccard near-dup pairs — the ground-truth baseline
    * the approximate paths are judged against. Global exact near-dup
    * is inherently O(n²) on a dense small-vocabulary corpus (every
    * shingle is common, so inverted-index / PPJoin-prefix candidate
    * generation degenerates — measured, not guessed). This is the
    * recall-check twin of [[qDedupMinhash]]; the block-sharded form of
    * the same kernel is [[exactJaccardSharded]]. */
  val qNgramJaccard = Q(
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_ngram_jaccard:$d") {
      val t = 0.5
      val bm = shingleBitmaps(s, d)
      // All-pairs scoring via mapPartitions over a broadcast bitmap
      // table — the brief's "(d) last resort", reached on measurement:
      // the same pairing as a BroadcastNestedLoopJoin spent 150–220 s
      // materializing 12.5M wide pair-rows (HOF folds don't codegen;
      // flat 64-column variants drown in row copies), while this tight
      // popcount loop over primitive long[] does the identical exact
      // computation in ~1 s. The broadcast side is ~300 B/doc — past the
      // bound below, [[exactJaccardSharded]] IS the sharded form of
      // this kernel (no collect, no broadcast).
      import s.implicits._
      val docs = bm.select(col("doc_id"), col("sz"), col("bm"))
        .as[(Long, Int, Array[Long])]
      val table = docs.collect().sortBy(_._1)
      // Hard bound on the driver collect (~300 B/doc): beyond this the
      // all-pairs recall check must run block-sharded or sampled — and
      // near-dup detection itself should be q_dedup_minhash.
      require(table.length <= MaxExactJaccardDocs,
        s"exact-jaccard all-pairs collected ${table.length} docs > $MaxExactJaccardDocs; " +
          "use exactJaccardSharded (block-wise) or q_dedup_minhash at scale")
      val bc = s.sparkContext.broadcast(table)
      // stream the collected table back out rather than re-running the
      // whole shingle→vocab→bitmap pipeline a second time
      val stream = s.createDataset(table)
        .repartition(s.sparkContext.defaultParallelism)
      val pairs = stream.mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (ida, sza, bma) =>
          all.iterator.filter(_._1 > ida).flatMap { case (idb, szb, bmb) =>
            Kernels.bitsetJaccard(t, sza, bma, szb, bmb).map(j => (ida, idb, j))
          }
        }
      }.toDF("doc_a", "doc_b", "jaccard")
      pairs.orderBy(col("doc_a"), col("doc_b"))
    },
    s"""WITH ${duckJaccardCtes("a.doc_id < b.doc_id")}
       SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""")

  /** Executor-side kernels, in their own object so a task closure
    * that calls them loads only this object, not TextOps' query
    * registry. */
  private object Kernels {
    /** The one exact-jaccard popcount kernel over two packed shingle
      * bitsets: `Some(jaccard)` when it reaches `t`, else None. The
      * size prune first — |A∩B| ≤ min(|A|, |B|), so min < t·max
      * cannot pass — skips the popcount for most pairs. */
    def bitsetJaccard(t: Double, szA: Int, bmA: Array[Long],
                      szB: Int, bmB: Array[Long]): Option[Double] =
      if (math.min(szA, szB).toDouble < t * math.max(szA, szB)) None
      else {
        var inter = 0
        var i = 0
        while (i < bmA.length) {
          inter += java.lang.Long.bitCount(bmA(i) & bmB(i)); i += 1
        }
        val jac = inter.toDouble / (szA + szB - inter)
        if (jac >= t) Some(jac) else None
      }
  }

  /** Block-sharded exact all-pairs jaccard — the 100 TB shape of the
    * broadcast kernel in [[qNgramJaccard]]: NO driver collect, NO
    * full-table broadcast. Docs hash into `nBlocks` blocks, each block
    * packs into one row, and the B·(B+1)/2 block-pair grid drives an
    * equi-join; each grid cell runs the same primitive-long popcount
    * kernel over its two packed blocks. Replication factor is B per
    * doc (size blocks so one fits in task memory); work is still
    * inherently O(n²) pairs — this bounds MEMORY, not compute, which
    * is why the production near-dup path remains [[qDedupMinhash]].
    * Input columns: (doc_id: long, sz: int, bm: array<long>). */
  def exactJaccardSharded(s: SparkSession, bitmaps: DataFrame,
                          t: Double, nBlocks: Int): DataFrame = {
    import s.implicits._
    val blocked = bitmaps
      .withColumn("blk", pmod(col("doc_id"), lit(nBlocks)).cast("int"))
      .groupBy(col("blk"))
      .agg(collect_list(struct(col("doc_id"), col("sz"), col("bm"))).as("docs"))
    val grid = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("bi", "bj")
    grid
      .join(blocked.select(col("blk").as("bi"), col("docs").as("docs_a")), Seq("bi"))
      .join(blocked.select(col("blk").as("bj"), col("docs").as("docs_b")), Seq("bj"))
      .select(col("bi"), col("bj"), col("docs_a"), col("docs_b"))
      .as[(Int, Int, Seq[(Long, Int, Seq[Long])], Seq[(Long, Int, Seq[Long])])]
      .mapPartitions(_.flatMap { case (bi, bj, rawA, rawB) =>
        val a = rawA.map { case (id, sz, bm) => (id, sz, bm.toArray) }.toArray
        val b = rawB.map { case (id, sz, bm) => (id, sz, bm.toArray) }.toArray
        // same-block cell: order by id to visit each pair once.
        // cross-block cell: every unordered pair lands in exactly one
        // grid cell (the blocks determine it), so take ALL pairs and
        // normalize the output order — `idb > ida` here would silently
        // drop pairs whose smaller id lives in the higher-index block.
        val same = bi == bj
        a.iterator.flatMap { case (ida, sza, bma) =>
          b.iterator.filter { case (idb, _, _) => if (same) idb > ida else idb != ida }
            .flatMap { case (idb, szb, bmb) =>
              Kernels.bitsetJaccard(t, sza, bma, szb, bmb)
                .map(j => (math.min(ida, idb), math.max(ida, idb), j))
            }
        }
      })
      .toDF("doc_a", "doc_b", "jaccard")
  }

  /** Shared MinHash/LSH banding stage: (doc_id, band_idx, band_hash)
    * from a shingled frame. 32 minhashes — min over murmur3(shingle,
    * k), k = 0..31 — computed as 32 min-aggregates over the *exploded*
    * shingle stream rather than nested array lambdas: higher-order
    * lambdas are interpreted per element, while explode + hash + min
    * is whole-stage-codegen'd end to end (measured ~4× faster here).
    * Then 8 bands of 4 rows each → band key = hash(band index, four
    * sig rows). The band frame carries ids + band key only — callers
    * never shuffle shingle arrays through the candidate join. Used by
    * the full self-dedup ([[qDedupMinhash]]) and the incremental
    * batch-vs-corpus screen ([[qDedupIncremental]]). */
  private def minhashBands(sh: DataFrame): DataFrame = {
    val minCols = (0 until 32).map(k => min(hash(col("shingle"), lit(k))).as(s"m$k"))
    val sig = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .withColumn("sig", array((0 until 32).map(k => col(s"m$k")): _*))
      .select(col("doc_id"), col("sig"))
    sig.select(col("doc_id"),
      posexplode(expr("""transform(sequence(0, 7),
        j -> hash(j, element_at(sig, 4 * j + 1), element_at(sig, 4 * j + 2),
                     element_at(sig, 4 * j + 3), element_at(sig, 4 * j + 4)))"""))
        .as(Seq("band_idx", "band_hash")))
  }

  /** Runs `f` over the band-collision candidate id pairs (doc_a <
    * doc_b, distinct) of a shingled frame — the pre-confirm stage of
    * the banding pipeline, factored so [[minhashNearDupPairs]] and the
    * candidate-volume specs (ScaleSmokeSpec) measure the IDENTICAL
    * join. The band frame is [[materialized]] for the duration of `f`
    * and unpersisted after it: both sides of the self-join then read
    * one filled cache, so the signature aggregation runs once and the
    * join's build side is fixed by equal exact sizes rather than by
    * whichever of two identical shuffle stages finishes first. */
  private def withBandCandidates[T](sh: DataFrame)(f: DataFrame => T): T = {
    val bands = materialized(minhashBands(sh))
    try f(collidingPairs(bands, "band_idx", "band_hash"))
    finally bands.unpersist()
  }

  /** The candidate stage of every banded pair family: distinct
    * `(doc_a, doc_b)`, doc_a < doc_b, of `keyed` rows sharing all of
    * `keys` — an equi-join on the band key, never all-pairs. */
  private def collidingPairs(keyed: DataFrame, keys: String*): DataFrame = {
    val la = keyed.select(col("doc_id").as("doc_a") +: keys.map(col): _*)
    val lb = keyed.select(col("doc_id").as("doc_b") +: keys.map(col): _*)
    la.join(lb, keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The jaccard confirm of the banded families: adds `inter` and
    * `jaccard` for the shingle arrays `sh_<a>`/`sh_<b>` of sizes
    * `sz_<a>`/`sz_<b>`. Two withColumns, as the callers always had,
    * so CollapseProject folds them into the same plan. */
  private def withJaccard(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("inter", size(array_intersect(col(s"sh_$a"), col(s"sh_$b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col(s"sz_$a") + col(s"sz_$b") - col("inter")))

  /** The tail of every memoized pair family: sorted by (doc_a, doc_b)
    * and [[materialized]] (pair-count-sized: every re-consumption is a
    * cache read). The caller then releases its own intermediates. */
  private def cachedPairs(pairs: DataFrame): DataFrame =
    materialized(pairs.orderBy(col("doc_a"), col("doc_b")))

  /** Persisted and counted inside the (memo) build: Bench attributes
    * the one-time cost to `memo_builds`, and no consumer is planned
    * over the cache before it holds data — Spark sizes an unfilled
    * cache by its plan estimate, a filled one by its bytes, so a
    * memoized frame planned before the fill can pick another join
    * build side, and shuffle count, than one planned after it. Once
    * filled, the frame keeps its rows and its build's serialized
    * broadcast pieces, not the broadcast values
    * ([[graft.SessionMemo.releaseBuild]]). */
  private def materialized(df: DataFrame): DataFrame = {
    val cached = df.persist()
    cached.count()
    SessionMemo.releaseBuild(cached)
    cached
  }

  /** Spec-only convenience: the band-candidate count of a (doc_id,
    * text) frame, through the same shingle pipeline and band join the
    * graded query uses. */
  private[graft] def bandCandidateCount(docs: DataFrame): Long =
    withBandCandidates(shingleSets(docs))(_.count())

  /** MinHash + LSH banding near-dup detection — the scale path: 32
    * minhashes per doc, 8 bands × 4 rows; only same-band docs are
    * paired, then candidates are confirmed with exact jaccard ≥ 0.5.
    * Cost is O(docs × shingles) for signatures + a band-key shuffle —
    * never all-pairs. Band width r = 4 is tuned to the corpus: docs
    * here share j ≈ 0.1 background similarity, so r = 2 would fire
    * j² ≈ 1% of ALL pairs as candidates (quadratic blowup), while
    * r = 4 fires j⁴ ≈ 1e-4. Recall at the j ≈ 0.99 planted twins is
    * 1 - (1-j⁴)^8 ≈ 1 - 1e-11, and the corpus is bimodal (nothing
    * between 0.15 and 0.9), so the exact-jaccard oracle still
    * matches.
    *
    * PUBLIC composable form (exported via [[graft.Graft]]): takes any
    * (doc_id, text) frame, returns (doc_a, doc_b, jaccard) with
    * doc_a < doc_b. Memoized by the semantic hash of the input plan
    * (+ threshold), so the graded query, the ensemble and facade
    * callers all share ONE persisted shingle table per distinct input
    * per session — the bounded-persist pattern nearDupScreen's corpus
    * side established. */
  def minhashNearDupPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"minhash_pairs:${SessionMemo.planKey(docs)}:$threshold") {
      // persisted: consumed three times (signatures + both confirm
      // sides), else the tokenize→shingle pipeline runs thrice
      val sh = shingleSets(docs).persist()
      val shA = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("sz").as("sz_a"))
      val shB = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("sz").as("sz_b"))
      val pairs = withBandCandidates(sh) { cand =>
        cachedPairs(withJaccard(
          cand.join(shA, Seq("doc_a")).join(shB, Seq("doc_b")), "a", "b")
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("jaccard")))
      }
      sh.unpersist()
      pairs
    }

  /** The session's shared MinHash pair index itself: no outer memo,
    * the `minhash_pairs` entry above is the one build (read also by
    * the ensemble, recall, cross-source, split and survivors
    * queries). */
  val qDedupMinhash = Q(
    (s, d) => minhashNearDupPairs(Tables.documents(s, d)),
    qNgramJaccard.oracle) // exact pairs: see the recall note above

  /** Incremental near-dup dedup — the production ingest shape: screen
    * an INCOMING BATCH against an EXISTING CORPUS instead of
    * self-joining everything. Corpus = even doc_ids, batch = odd
    * doc_ids (a deterministic stand-in for "yesterday's index" vs
    * "today's shard"). Same MinHash/LSH banding as [[qDedupMinhash]],
    * but the candidate join is strictly batch×corpus: at 100 TB the
    * corpus band table is a precomputed, incrementally-maintained
    * index (append the new batch's bands after the screen), the batch
    * side is small, and the join never generates corpus×corpus or
    * batch×batch pairs — per-ingest cost is O(batch), not O(corpus²).
    * Output: one decision row per matched batch doc (match count,
    * first corpus match, best jaccard). The exact-jaccard oracle
    * replays the decision because the corpus is similarity-bimodal
    * (see qDedupMinhash's recall note): [[duckJaccardCtes]] restricted
    * to batch×corpus pairs. */
  /** PUBLIC batch-vs-corpus near-dup screen — the composable form of
    * [[qDedupIncremental]]: both sides are any (doc_id, text) frame,
    * so the SAME function runs in a batch backfill and inside a
    * Structured Streaming `foreachBatch` (each micro-batch is a batch
    * DataFrame — StreamingSpec drives exactly that). Candidates come
    * from a MinHash band equi-join strictly batch×corpus; confirm is
    * exact jaccard ≥ threshold; one decision row per matched batch
    * doc. At scale the corpus band frame is a precomputed index the
    * caller persists/broadcasts across micro-batches.
    *
    * `persistBatch`: the batch side is consumed twice (banding +
    * confirm). With `persistBatch = false` (the default, and the
    * right choice inside `foreachBatch`) the batch shingles are
    * recomputed for the second consumer — bounded by the micro-batch
    * size, and nothing accumulates in the session CacheManager, which
    * holds persisted plans strongly until an explicit unpersist (one
    * distinct plan per micro-batch would leak for the stream's
    * lifetime). Set it true for LARGE one-shot backfills where the
    * batch rivals the corpus (the graded incremental query does: its
    * batch is half the table, and recomputing its shingles measured
    * +2 s at sf0.1): the batch shingles are then [[materialized]] at
    * call time, and the caller owns the cache entry — memoize or
    * unpersist. */
  def nearDupScreen(corpus: DataFrame, batch: DataFrame,
                    threshold: Double = 0.5,
                    persistBatch: Boolean = false): DataFrame = {
    // The CORPUS side is consumed twice (banding + confirm) and is
    // shared across calls, so it is persisted once, memoized by the
    // semantic hash of its plan: a foreachBatch caller screening every
    // micro-batch against the same corpus holds ONE cached copy for
    // the stream's lifetime.
    val shC = SessionMemo.getOrElseUpdate(corpus.sparkSession,
      s"screen_shingles:${SessionMemo.planKey(corpus)}") {
      materialized(withShingles(corpus)
        .select(col("doc_id").as("corpus_id"), col("shingles").as("sh_c"),
          size(col("shingles")).as("sz_c")))
    }
    val shB0 = withShingles(batch)
      .select(col("doc_id"), col("shingles").as("sh_b"),
        size(col("shingles")).as("sz_b"))
    val shB = if (persistBatch) materialized(shB0) else shB0
    val bandsC = minhashBands(
      shC.select(col("corpus_id").as("doc_id"), col("sh_c").as("shingles")))
      .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash"))
    val bandsB = minhashBands(
      shB.select(col("doc_id"), col("sh_b").as("shingles")))
    val cand = bandsB.join(bandsC, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    withJaccard(cand.join(shB, Seq("doc_id")).join(shC, Seq("corpus_id")), "b", "c")
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("corpus_id")).as("first_match"),
        max(col("jaccard")).as("best_jaccard"))
  }

  val qDedupIncremental = Q(
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_dedup_incremental:$d") {
      val docs = Tables.documents(s, d)
      // persistBatch: this backfill's "batch" is half the table, and
      // the memo bounds the cache entry to one per (session, dataset)
      nearDupScreen(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        persistBatch = true)
        .orderBy(col("doc_id"))
    },
    s"""WITH ${duckJaccardCtes("a.doc_id % 2 = 1 AND b.doc_id % 2 = 0")}
       SELECT doc_a AS doc_id, COUNT(*) AS n_matches, MIN(doc_b) AS first_match,
         MAX(jaccard) AS best_jaccard
       FROM pairs GROUP BY doc_a ORDER BY doc_id""")

  /** Shared recursive-CTE oracle prelude: exact near-dup pairs
    * ([[duckJaccardCtes]], so this runs at sf0.1 too) →
    * undirected edges → transitive closure → per-node min-label
    * component (`comp(doc_id, cluster_id)`). The `reach` closure is
    * quadratic only in COMPONENT size (near-dup clusters are tiny),
    * not corpus size. */
  private val duckCompCtes =
    s"""WITH RECURSIVE ${duckJaccardCtes("a.doc_id < b.doc_id")},
       edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(u, v) AS (SELECT u, v FROM edges
                       UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u)"""

  /** Size-adaptive connected components over a bidirectional edge list
    * `(u, v)` → per-node min-label frame `(node, lbl)`. The near-dup
    * pair graph is orders of magnitude smaller than the corpus (it IS
    * the dedup output), so below `unionFindBound` edges, union-find on
    * the collected edge list is the honest plan — per-iteration
    * distributed label propagation on a ~100-row graph is pure
    * scheduler overhead (measured: 14 s of empty-task stages vs ~0
    * driver-side). Past the bound the distributed min-label loop takes
    * over unchanged (the 100 TB path — no driver materialization).
    * The bound is a parameter so tests can FORCE the distributed
    * branch and pin it label-identical to union-find on the same
    * graph (ScaleSmokeSpec). */
  private[graft] def componentLabels(edges: DataFrame,
                                     unionFindBound: Long = 1000000L): DataFrame = {
    val s = edges.sparkSession
    val edgeCount = edges.count()
    if (edgeCount <= unionFindBound) {
      import s.implicits._
      val es = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "lbl")
    } else {
      var pinned = new PinnedFrame(
        edges.select(col("u").as("node")).distinct()
          .withColumn("lbl", col("node")))
      var lbls = pinned.df
      var converged = false
      var iter = 0
      val maxIters = 25
      while (!converged && iter < maxIters) {
        // carry the previous label through the checkpoint so the
        // convergence check shares the materialization (one action
        // per round, not two)
        val prop = edges
          .join(lbls.select(col("node").as("v"), col("lbl").as("vlbl")), Seq("v"))
          .groupBy(col("u").as("node")).agg(min(col("vlbl")).as("nbl"))
          .join(lbls, Seq("node"))
          .select(col("node"), least(col("lbl"), col("nbl")).as("lbl"),
            col("lbl").as("prev"))
        // pointer-jump (pointer-doubling à la large-star/small-star):
        // every label IS a node id with its own (smaller-or-equal)
        // label, so adopting lbl(lbl(v)) roughly halves the remaining
        // distance to the component minimum — convergence in
        // O(log diameter) rounds, where plain propagation needs
        // O(diameter) and would cut long chains at any round cap (a
        // split component lets near-dup twins straddle train/test)
        val nextPinned = new PinnedFrame(prop.as("a")
          .join(prop.select(col("node").as("jn"), col("lbl").as("jl")).as("j"),
            col("a.lbl") === col("jn"), "left")
          .select(col("a.node").as("node"),
            least(col("a.lbl"), coalesce(col("jl"), col("a.lbl"))).as("lbl"),
            col("a.prev").as("prev")))
        val next = nextPinned.df
        converged = next.filter(col("lbl") =!= col("prev")).isEmpty
        // the previous round's blocks are dead the moment `next` is
        // materialized (PinnedFrame is eager) — release them now
        // instead of leaving up to maxIters frames pinned in the block
        // manager until a GC happens to run; were a release ever
        // mistimed, the persisted RDD recomputes through its retained
        // lineage rather than corrupting the labels
        pinned.free()
        pinned = nextPinned
        lbls = next.drop("prev")
        iter += 1
      }
      // 2^25 ≫ any real component diameter, so hitting the cap means
      // something is deeply wrong — fail loudly instead of returning
      // split components (which would leak near-dup twins across
      // leakageSafeSplit's train/test boundary)
      if (!converged) throw new IllegalStateException(
        s"componentLabels: min-label propagation with pointer-jumping did not " +
          s"converge in $maxIters rounds — the label frame is not a valid " +
          "component labeling; investigate the edge list before using it")
      lbls
    }
  }

  /** Connected components of a `(doc_a, doc_b)` near-dup pair set:
    * the symmetric edge list `(u, v)` is pinned once — every
    * [[componentLabels]] round and action references it, and without
    * the pin each would re-run the whole pair-generation pipeline —
    * and labeled `(node, lbl)`. */
  private def pairComponents(pairs: DataFrame): DataFrame = {
    val ab = pairs.select(col("doc_a"), col("doc_b"))
    componentLabels(SessionMemo.pinned(ab
      .union(ab.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v")))
  }

  /** Near-dup cluster canonicalization — the step that turns pairwise
    * matches into dedup decisions: connected components over the
    * near-dup graph, each doc labeled with its component's minimum
    * doc_id (the canonical survivor). Implemented as iterative
    * min-label propagation (the Pregel/GraphX formulation): each round
    * every node takes the min of its own and its neighbors' labels;
    * converges in ≤ graph-diameter rounds. A pinned snapshot truncates
    * the growing lineage each round — without it an iterative
    * DataFrame loop replans the whole history every iteration. The
    * oracle replays connectivity with a recursive CTE. */
  val qDedupClusters = Q(
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_dedup_clusters:$d") {
      val labels = pairComponents(qNgramJaccard.fn(s, d))
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("lbl"))
        .select(col("lbl").as("cluster_id"), col("node").as("doc_id"),
          col("cluster_size"))
        .orderBy(col("cluster_id"), col("doc_id"))
    },
    s"""$duckCompCtes
       SELECT c.cluster_id, c.doc_id, cnt.n AS cluster_size
       FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id) cnt
         USING (cluster_id)
       ORDER BY cluster_id, doc_id""")

  /** Quality-weighted survivor selection — the dedup DECISION on top
    * of cluster canonicalization: real pipelines keep the BEST member
    * of each near-dup cluster (here: most characters, the
    * keep-the-longest-duplicate policy), not the smallest id. One
    * row_number window over the cluster table — which is
    * dup-graph-sized, tiny next to the corpus, so the argmax costs a
    * shuffle of the clusters only. Ties break on doc_id so the choice
    * is total. Reuses the memoized [[qDedupClusters]] output; the
    * oracle replays the same argmax over the recursive-CTE
    * components. */
  val qDedupSurvivors = Q(
    (s, d) => {
      val clusters = qDedupClusters.fn(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      clusters.join(docs, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"),
          col("n_chars").as("survivor_chars"),
          col("cluster_size").as("n_members"))
        .orderBy(col("cluster_id"))
    },
    s"""$duckCompCtes,
       sized AS (
         SELECT c.cluster_id, c.doc_id, d.n_chars,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
             ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
         FROM comp c JOIN documents d USING (doc_id))
       SELECT cluster_id, doc_id AS survivor_id, n_chars AS survivor_chars,
         n_members FROM sized WHERE rn = 1 ORDER BY cluster_id""")

  /** (base, prime) per 16-bit simhash band: four independent
    * character-level Rabin–Karp hashes whose low 16 bits form the
    * 64 token-hash bits. Pure integer arithmetic — both engines
    * compute the identical signature, unlike xxhash64. */
  private val simhashBands: Seq[(Long, Long)] = Seq(
    (1000003L, 1000000007L), (131L, 998244353L),
    (137L, 1000000009L), (10007L, 999999937L))

  /** SimHash fingerprints: 63-bit signature from per-token hash bit
    * votes. Near-dups land within small hamming distance; bucketing
    * the 4 × 16-bit bands gives the candidate structure.
    *
    * Token hashes are engine-portable (char-level polynomial rolling
    * hashes, one per band, same arithmetic in the DuckDB oracle), so
    * the check is hash-exact — an xxhash64 token hash could only be
    * rows-checked. Bit 63 is dropped from the assembled
    * signature so it stays inside a non-negative BIGINT in both
    * engines (no overflow-adjacent shiftleft(1L,63) edge).
    *
    * Shape: the interpreted char-fold lambdas run ONCE per distinct
    * token (the dictionary, ~1e3 rows here and vocabulary-sized at
    * any corpus scale), then join back to occurrences — AQE
    * broadcasts the dictionary. Votes stay 64 codegen'd ±1-vote SUM
    * aggregates; the nested-lambda alternative is interpreted per
    * element, the trap measured at 4× on the MinHash signatures.
    *
    * PUBLIC composable form (exported via [[graft.Graft]] through
    * [[simhashPairs]]): takes any (doc_id, text) frame. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
      // drop empty tokens (doubled/leading spaces): a zero-length
      // token would make DuckDB's no-init LIST_REDUCE error on an
      // empty list while Spark folds sequence(1,0) = [1,0] DESCENDING
      // over two phantom ascii('')=0 chars — divergent, not just ugly
      val toks = graft.Par.fanOut(docs, "doc_id")
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
      val hashCols = simhashBands.zipWithIndex.map { case ((b, p), k) =>
        expr(
          s"""aggregate(transform(sequence(1, length(t)),
                          i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
                        0L, (acc, x) -> (acc * ${b}L + x) % ${p}L) & 65535""")
          .as(s"b$k")
      }
      val vocab = toks.select(col("t")).distinct()
        .select(col("t") +: hashCols: _*)
      // bits 0..62 only: the signature keeps the sign bit clear so the
      // band arithmetic stays portable (a bit-63 vote would be dead
      // work). Bit-SLICED votes: instead of 63
      // separate ±1 SUM aggregates, pack 3 one-counters per 64-bit
      // word (20-bit slots, 21 words + one count) — each token adds
      // its bit values shifted into disjoint slots, the long SUM adds
      // whole words, and slots never carry into each other while a
      // document has < 2^20 tokens (docs in an LLM pipeline are
      // chunked far below 1M tokens; the fixture max is ~10^2).
      // "Vote positive" becomes 2·ones > n_tokens — the same strict
      // majority as sum(±1) > 0, so the ORACLE IS UNCHANGED: only the
      // aggregation shape differs, 22 accumulators instead of 63.
      val packCols = (0 until 21).map { j =>
        val terms = (0 until 3).map { sl =>
          val i = j * 3 + sl
          s"(CAST((b${i / 16} >> ${i % 16}) & 1 AS BIGINT) << ${20 * sl})"
        }
        sum(expr(terms.mkString(" + "))).as(s"w$j")
      }
      val sigExpr = (0 until 63)
        .map(i => expr(
          s"IF(2 * ((w${i / 3} >> ${20 * (i % 3)}) & 1048575) > ntok, ${1L << i}L, 0L)"))
        .reduce(_ + _)
      toks.join(vocab, Seq("t"))
        .groupBy(col("doc_id"))
        .agg(packCols.head, (packCols.tail :+ count(lit(1)).as("ntok")): _*)
        .withColumn("simhash", sigExpr)
        .select(col("doc_id"), col("simhash"),
          expr("(simhash >> 48) & 65535").as("band0"),
          expr("(simhash >> 32) & 65535").as("band1"),
          expr("(simhash >> 16) & 65535").as("band2"),
          expr("simhash & 65535").as("band3"))
        .orderBy(col("doc_id"))
  }

  val qDedupSimhash = Q(
    (s, d) => simhashSignatures(Tables.documents(s, d)),
    Some {
      val hashDefs = simhashBands.zipWithIndex.map { case ((b, p), k) =>
        s"""LIST_REDUCE(LIST_TRANSFORM(RANGE(LENGTH(t)),
              i -> CAST(ASCII(t[i + 1]) AS BIGINT)),
              (acc, x) -> (acc * $b + x) % $p) & 65535 AS b$k"""
      }.mkString(",\n           ")
      val votes = (0 until 63)
        .map(i => s"SUM(2 * ((b${i / 16} >> ${i % 16}) & 1) - 1) AS v$i")
        .mkString(", ")
      val sig = (0 until 63)
        .map(i => s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (
           SELECT doc_id, t FROM (
             SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
         vocab AS (
           SELECT t,
           $hashDefs
           FROM (SELECT DISTINCT t FROM toks)),
         votes AS (
           SELECT doc_id, $votes
           FROM toks JOIN vocab USING (t) GROUP BY doc_id),
         sig AS (SELECT doc_id, $sig AS simhash FROM votes)
         SELECT doc_id, simhash,
           (simhash >> 48) & 65535 AS band0,
           (simhash >> 32) & 65535 AS band1,
           (simhash >> 16) & 65535 AS band2,
           simhash & 65535 AS band3
         FROM sig ORDER BY doc_id"""
    })

  /** Leakage-safe train/val/test split — assignment by NEAR-DUP
    * CLUSTER, not by document: a doc and its twins always land in the
    * same split, so evaluation can never see a paraphrase of a
    * training document (the dedup-aware splitting every serious LLM
    * data pipeline needs; splitting by raw doc_id leaks). Singleton
    * docs are their own cluster; the cluster id feeds the same
    * portable two-round hash as the samplers, 80/10/10.
    *
    * Scale shape: reuses the dedup-cluster output (cluster table is
    * dup-graph-sized, tiny next to the corpus) left-joined back to
    * the corpus — one broadcast-size join + a map-side hash bucket.
    * The oracle replays clustering via the recursive CTE. */
  val qSplitLeakageSafe = Q(
    (s, d) => splitByCluster(Tables.documents(s, d),
      qDedupClusters.fn(s, d).select(col("doc_id"), col("cluster_id"))),
    s"""$duckCompCtes,
       assigned AS (
         SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN comp c USING (doc_id)),
       bucketed AS (
         SELECT doc_id, cluster_id,
           ${graft.Num.sqlHash("cluster_id")} % 10 AS bucket
         FROM assigned)
       SELECT doc_id, cluster_id,
         CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val'
              ELSE 'test' END AS split
       FROM bucketed ORDER BY doc_id""")

  /** The 80/10/10 split tail: each doc of `docs` takes its
    * `(doc_id, cluster_id)` row from `clusters` (a singleton is its
    * own cluster) and the cluster id feeds the portable two-round
    * hash, so a cluster never straddles splits. */
  private def splitByCluster(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", expr(s"${graft.Num.hashExpr("cluster_id")} % 10"))
      .withColumn("split", expr(
        "CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination — the training-pipeline stage that
    * flags documents overlapping an evaluation set (GPT-3/Pile-style
    * n-gram overlap): corpus docs sharing ≥ 3 word-bigram shingles
    * with the benchmark are marked contaminated. The "benchmark" here
    * is the doc_id % 100 == 0 slice standing in for an eval corpus;
    * the planted twins of those docs are exactly what the stage must
    * catch.
    *
    * Scale shape: the benchmark shingle set is eval-corpus-sized
    * (thousands of docs, not billions) — explode it once, distinct,
    * and let AQE broadcast it against the corpus shingle stream; the
    * overlap count is a per-doc partial-agg groupBy. Never all-pairs,
    * never a corpus-sized build side. */
  val qDecontaminate = Q(
    (s, d) => {
      val sh = withShingles(Tables.documents(s, d))
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val bench = sh.filter(col("doc_id") % 100 === 0)
        .select(col("shingle")).distinct()
      val overlaps = sh.filter(col("doc_id") % 100 =!= 0)
        .join(bench, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
      Tables.documents(s, d).filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"))
        .join(overlaps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)) >= 3).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    s"""WITH sh AS (
         SELECT doc_id, UNNEST(shingles) AS shingle FROM ($duckShingles)),
       bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0),
       ovl AS (
         SELECT doc_id, COUNT(*) AS n_overlap
         FROM sh JOIN bench USING (shingle)
         WHERE doc_id % 100 <> 0 GROUP BY doc_id)
       SELECT d.doc_id, COALESCE(o.n_overlap, 0) AS n_overlap,
         COALESCE(o.n_overlap, 0) >= 3 AS contaminated
       FROM documents d LEFT JOIN ovl o USING (doc_id)
       WHERE d.doc_id % 100 <> 0
       ORDER BY d.doc_id""")

  /** Language ID by stopword-hit scoring against a tiny inline lexicon
    * (n-gram/keyword heuristic). The corpus vocabulary is synthetic, so
    * the lexicon maps corpus words to language buckets — the operator
    * shape (token explode → broadcast lexicon join → per-doc argmax)
    * is the real thing. */
  val qLangId = Q(
    (s, d) => {
      val lex = s.createDataFrame(Seq(
        ("en", "the"), ("en", "a"), ("en", "data"), ("en", "table"),
        ("de", "window"), ("de", "merge"), ("de", "batch"),
        ("fr", "stream"), ("fr", "filter"), ("fr", "sort"),
        ("es", "query"), ("es", "row"), ("es", "scan"),
        ("zh", "spark"), ("zh", "join"), ("zh", "hash")))
        .toDF("cand_lang", "word")
      val hits = graft.Par.fanOut(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .join(broadcast(lex), col("token") === col("word"))
        .groupBy(col("doc_id"), col("cand_lang"))
        .agg(count(lit(1)).as("hits"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("hits").desc, col("cand_lang").asc)
      val best = hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang").as("predicted_lang"), col("hits"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("predicted_lang"), lit("und")).as("predicted_lang"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy(col("doc_id"))
    },
    """WITH lex(cand_lang, word) AS (VALUES
         ('en','the'),('en','a'),('en','data'),('en','table'),
         ('de','window'),('de','merge'),('de','batch'),
         ('fr','stream'),('fr','filter'),('fr','sort'),
         ('es','query'),('es','row'),('es','scan'),
         ('zh','spark'),('zh','join'),('zh','hash')),
       hits AS (
         SELECT doc_id, cand_lang, COUNT(*) AS hits
         FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents) t
         JOIN lex ON token = word GROUP BY doc_id, cand_lang),
       best AS (
         SELECT doc_id, cand_lang AS predicted_lang, hits,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC) AS rn
         FROM hits)
       SELECT d.doc_id, COALESCE(b.predicted_lang, 'und') AS predicted_lang,
         COALESCE(b.hits, 0) AS hits
       FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
       ORDER BY d.doc_id""")

  /** Per-document quality scoring: unique-token ratio, stopword ratio,
    * length factor — all inside higher-order expressions (one pass,
    * no explode, no shuffle: a pure map stage at any scale). */
  val qTextQuality = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", tokens(col("text")))
        .withColumn("n_tokens", size(col("tokens")))
        .withColumn("n_uniq", size(array_distinct(col("tokens"))))
        .withColumn("n_stop",
          size(filter(col("tokens"), t => t === "the" || t === "a")))
        .withColumn("len_sum",
          aggregate(transform(col("tokens"), t => length(t)), lit(0), (a, x) => a + x))
        .select(
          col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
          (col("n_uniq").cast("double") / col("n_tokens")).as("uniq_ratio"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
          (col("len_sum").cast("double") / col("n_tokens")).as("avg_token_len"),
          (lit(0.4) * (col("n_uniq").cast("double") / col("n_tokens"))
            + lit(0.4) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens"))
            + lit(0.2) * least(lit(1.0), col("n_tokens").cast("double") / lit(100.0)))
            .as("quality_score"))
        .orderBy(col("doc_id")),
    """SELECT doc_id, n_tokens, n_uniq, n_stop,
       CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       CAST(len_sum AS DOUBLE) / n_tokens AS avg_token_len,
       0.4 * (CAST(n_uniq AS DOUBLE) / n_tokens)
         + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
         + 0.2 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS quality_score
       FROM (SELECT doc_id,
               LEN(toks) AS n_tokens,
               LEN(LIST_DISTINCT(toks)) AS n_uniq,
               LEN(LIST_FILTER(toks, t -> t = 'the' OR t = 'a')) AS n_stop,
               LIST_REDUCE(LIST_TRANSFORM(toks, t -> LENGTH(t)), (a, x) -> a + x) AS len_sum
             FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents))
       ORDER BY doc_id""")

  /** Token counting per language: whitespace tokens vs a BPE-ish
    * regex word extraction, aggregated to corpus grain. */
  val qTokenCount = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_ws", size(tokens(col("text"))))
        .withColumn("n_re", size(expr("regexp_extract_all(text, '[a-z]+', 0)")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("ws_tokens"),
          sum(col("n_re")).as("re_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang")),
    """SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+'))) AS BIGINT) AS re_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY lang ORDER BY lang""")

  /** Rolling-hash document fingerprint (Rabin–Karp-style fold over the
    * token stream, engine-portable arithmetic instead of an opaque
    * hash so the oracle can recompute it). */
  val qFingerprint = Q(
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", tokens(col("text")))
        .withColumn("vals", expr(
          "transform(tokens, t -> CAST(length(t) * 37 + ascii(substring(t, 1, 1)) AS BIGINT))"))
        .withColumn("fingerprint", expr(
          "aggregate(vals, 0L, (acc, x) -> (acc * 1000003 + x) % 1000000007)"))
        .select(col("doc_id"), col("fingerprint"), size(col("tokens")).as("n_tokens"))
        .orderBy(col("doc_id")),
    """SELECT doc_id,
       LIST_REDUCE(
         LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                        t -> CAST(LENGTH(t) * 37 + ASCII(t[1]) AS BIGINT)),
         (acc, x) -> (acc * 1000003 + x) % 1000000007) AS fingerprint,
       LEN(STRING_SPLIT(text, ' ')) AS n_tokens
       FROM documents ORDER BY doc_id""")

  /** TF-IDF term weighting (rational idf N/df rather than log-idf:
    * ln() can differ in the last ulp between libm implementations,
    * which would break the bit-exact oracle; the ranking it induces is
    * identical). Classic two-pass shape: term counts per doc, document
    * frequencies, broadcast-join the df table back. Top-5 terms per
    * document by weight. */
  /** Shared (doc_id, term, tf) term-count stage — ONE memoized persist
    * per (session, input plan), consumed by [[qTfidf]] (df derivation
    * + final join) and [[bm25Rank]] (doc lengths + query-term
    * scoring). One owner, one cache entry: two persists of the same
    * canonical plan would hit CacheManager's "already cached" path
    * and log a warning per build, and the IR family shares its token
    * pass the way the dedup family shares its shingle pass. */
  private[graft] def termCounts(docs: DataFrame): DataFrame =
    SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"tf_counts:${SessionMemo.planKey(docs)}") {
      graft.Par.fanOut(docs, "doc_id")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist()
    }

  val qTfidf = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      // N as a lazy broadcast scalar, not a driver-side count(): at
      // scale an eager count is a full extra scan at plan-build time
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val tf = termCounts(docs)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      // no broadcast hint on the document-frequency table: it is
      // vocabulary-sized — unbounded on an open corpus — so the join
      // strategy is left to AQE (broadcasts when actually small,
      // shuffles when not). The 1-row count table stays hinted.
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") * (col("n_docs") / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    },
    """WITH tf AS (
         SELECT doc_id, term, COUNT(*) AS tf
         FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
         GROUP BY doc_id, term),
       df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.term, tf.tf * (n.n_docs / df.df) AS tfidf
         FROM tf JOIN df USING (term), n),
       ranked AS (
         SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
         FROM scored)
       SELECT doc_id, rn, term, tfidf FROM ranked WHERE rn <= 5
       ORDER BY doc_id, rn""")

  /** BM25 document ranking for a bag of query terms — the IR scoring
    * function behind most pre-embedding retrieval stacks, and the
    * lexical half of hybrid (BM25 + vector) retrieval. Log-free
    * rational idf ((N − df + 0.5)/(df + 0.5)) for the same reason
    * [[qTfidf]] uses N/df: ln() differs in the last ulp across libm
    * implementations and would break the bit-exact oracle, while the
    * induced ranking is identical (the map x→ln(1+x) is monotone).
    * Scores are floored to integer MICRO-units before the per-doc sum:
    * summing raw doubles is order-dependent, but the per-(doc, term)
    * double is a fixed dag of IEEE ops — bit-identical in any engine —
    * so its floor is portable and the int64 sum is exact in any order.
    * k1 = 1.2, b = 0.75 (the standard Robertson constants; 2.2 = k1+1,
    * 0.25 = 1−b below).
    *
    * Plan shape: one token explode → (doc, term) counts; doc lengths
    * derived from the same counts (one persisted aggregation tree, the
    * qTfidf lifecycle); the query-term filter shrinks everything
    * downstream to |terms|·df rows before any join, and the corpus
    * stats join is a broadcast of one row. Top-k is
    * orderBy().limit() — TakeOrdered, no global-sort window — with the
    * rank stamped on the k survivors only. Scales: nothing after the
    * first groupBy is corpus-sized. */
  def bm25Rank(docs: org.apache.spark.sql.DataFrame,
               terms: Seq[String], k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25Rank: need at least one query term")
    // term-count table feeds doc-lengths AND the query-term scoring
    // path — the [[termCounts]] shared stage, one memoized persist per
    // (session, input plan) across the whole IR family
    val tf = termCounts(docs)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      expr("CAST(SUM(dl) AS DOUBLE) / COUNT(*)").as("avgdl"))
    // df via groupBy + broadcast join over a PINNED qtf: a
    // count-over-window form would buffer one term's ENTIRE posting
    // list in a single window task (parallelism capped at |terms|) —
    // at 100 TB a frequent query term's posting list approaches
    // corpus size. Pinning qtf once per invocation (|terms|·df rows —
    // posting-list-sized, never corpus-sized) scans the corpus-wide
    // term-count table ONCE, df is a scalable partial aggregation
    // over the pin, and the join back broadcasts |terms| rows.
    // One-slot pin: repeated invocations free the previous snapshot.
    val qtf0 = tf.filter(col("term").isin(terms: _*))
    val qtf = graft.SessionMemo.pinnedSlot(
      s"bm25_qtf:${graft.SessionMemo.planKey(qtf0)}")(qtf0)
    val dfCounts = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = qtf
      .join(broadcast(dfCounts), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      // written as one SQL expression so both engines parse the same
      // IEEE dag; floor-to-micro makes the cross-term sum order-free
      .withColumn("score_micro", expr(
        """CAST(FLOOR(((n_docs - df + 0.5) / (df + 0.5)) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) *
          1000000.0) AS BIGINT)"""))
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro")).cast("long").as("bm25_micro"))
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("bm25_micro").desc, col("doc_id").asc).limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("bm25_micro").desc, col("doc_id").asc)))
      .select(col("rn"), col("doc_id"), col("bm25_micro"))
      .orderBy(col("rn"))
  }

  val qBm25 = Q(
    (s, d) => bm25Rank(Tables.documents(s, d), Seq("spark", "window", "hash")),
    """WITH tok AS (
         SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                        CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       qtf AS (SELECT * FROM tf WHERE term IN ('spark', 'window', 'hash')),
       df AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY 1),
       scored AS (
         SELECT q.doc_id,
           CAST(FLOOR(((s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
             ((q.tf * 2.2) / (q.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) *
             1000000.0) AS BIGINT) AS score_micro
         FROM qtf q JOIN df d USING (term) JOIN dl l USING (doc_id), stats s),
       agg AS (SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
               FROM scored GROUP BY 1),
       rk AS (SELECT doc_id, bm25_micro,
                ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rn
              FROM agg)
       SELECT rn, doc_id, bm25_micro FROM rk WHERE rn <= 20 ORDER BY rn""")

  /** Inverted index (term → document-frequency + sorted posting list),
    * the retrieval-side dual of [[bm25Rank]]'s scoring pass. One
    * distinct (doc, term) explode, one groupBy on the term — shuffle
    * volume equals the token stream, same as every tf pass here.
    * Posting lists are capped at `maxPostings` ids so no single output
    * row grows with the corpus (df still counts the true total); a
    * 100 TB index would additionally CHUNK hot terms into
    * (term, shard) rows — same groupBy with a `doc_id DIV shardSize`
    * prefix key — which composes with this cap unchanged. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
                    maxPostings: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        slice(sort_array(collect_list(col("doc_id"))), 1, maxPostings)
          .as("postings"))
      .orderBy(col("term"))
  }

  val qInvertedIndex = Q(
    // the graded twin serializes the posting list to CSV: the driver's
    // hash compare sorts cells, and array cells aren't hashable there —
    // the string carries the identical information
    (s, d) => invertedIndex(Tables.documents(s, d))
      .select(col("term"), col("df"),
        array_join(expr("transform(postings, x -> CAST(x AS STRING))"), ",")
          .as("postings_csv"))
      .orderBy(col("term")),
    """WITH tok AS (
         SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
         FROM documents)
       SELECT term, COUNT(*) AS df,
              ARRAY_TO_STRING((LIST(doc_id ORDER BY doc_id))[1:1000], ',')
                AS postings_csv
       FROM tok GROUP BY term ORDER BY term""")

  /** Bigram-LM fluency score — the perplexity-proxy quality filter
    * (CCNet/KenLM-style) a curation pipeline runs to drop gibberish
    * and shuffled boilerplate: score each document by how expected
    * its token bigrams are under the corpus's own bigram model.
    * Per sequential bigram (w1 w2) the conditional evidence is
    * c(w1 w2)·1000 DIV c(w1 as bigram head) — an integer permille of
    * p(w2|w1) — and the document score is the integer mean over its
    * bigrams. Low = improbable word sequences. All-integer arithmetic
    * → bit-exact in any engine (no log-space floats; ranking is
    * preserved because DIV is monotone).
    *
    * Scale: the bigram explode is the token stream (the same volume
    * every *gram op here pays); the model tables are
    * observed-bigram/vocab-sized aggregates; both enrich joins are
    * equi on the gram/head — AQE handles hot-bigram skew, and a
    * small-vocab model side broadcasts. Docs with fewer than 2 tokens
    * have no bigram evidence and are excluded (score them by a
    * unigram fallback upstream if needed). On an open-vocabulary
    * 100 TB corpus the observed-bigram model is itself corpus-scale:
    * the standard trims are a count floor (drop hapax bigrams from
    * the model and score misses as 0‰ — they contribute ~1000/c(w1)
    * anyway) and xxhash64 gram keys to shrink the shuffle payload,
    * both the same moves the shingle families already document.
    *
    * PUBLIC composable form (exported via [[graft.Graft]]): expects
    * (doc_id, text). */
  def fluencyScore(docs: DataFrame): DataFrame = {
    // token stream → sequential bigrams (with multiplicity — this is
    // evidence counting, not shingle dedup)
    val bi = graft.Par.fanOut(docs, "doc_id")
      .withColumn("tokens", tokens(col("text")))
      .filter(size(col("tokens")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 2),
             i -> concat(element_at(tokens, i + 1), ' ',
                         element_at(tokens, i + 2)))""")).as("bg"))
    // Head counts are derivable FROM the bigram counts (c(w1 as head)
    // = Σ c(w1 ·)), so the head aggregation and the head join both run
    // at MODEL grain, not token-stream grain, and the per-bigram
    // permille lands in the model before the one stream-sized
    // enrichment join — 3 corpus-sized exchanges total (bigram agg,
    // model join, doc agg) instead of 5 in the naive two-join form
    // (measured 0.90 → see SCALE.md).
    val bgCounts = bi.groupBy(col("bg")).agg(count(lit(1)).as("nbg"))
    val w1Counts = bgCounts
      .groupBy(expr("split(bg, ' ')[0]").as("w1")).agg(sum(col("nbg")).as("nw1"))
    val model = bgCounts
      .withColumn("w1", expr("split(bg, ' ')[0]"))
      .join(w1Counts, Seq("w1"))
      .select(col("bg"), expr("nbg * 1000 DIV nw1").as("cond_permille"))
    bi.join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(cond_permille) DIV count(1) AS BIGINT)")
          .as("fluency_permille"))
      .orderBy(col("doc_id"))
  }

  /** Graded exhibit: every document scored against the corpus bigram
    * model. The oracle replays the zip-free struct explode and the
    * integer permille arithmetic exactly. */
  val qFluencyScore = Q(
    (s, d) => fluencyScore(Tables.documents(s, d)),
    """WITH tok AS (
         SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
         WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
       bi AS (
         SELECT doc_id, (u).w1 AS w1, (u).bg AS bg FROM (
           SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(LEN(toks) - 1),
             i -> struct_pack(w1 := toks[i + 1],
                              bg := toks[i + 1] || ' ' || toks[i + 2]))) AS u
           FROM tok)),
       bgc AS (SELECT bg, COUNT(*) AS nbg FROM bi GROUP BY 1),
       w1c AS (SELECT w1, COUNT(*) AS nw1 FROM bi GROUP BY 1)
       SELECT doc_id, COUNT(*) AS n_bigrams,
              CAST(SUM(nbg * 1000 // nw1) // COUNT(*) AS BIGINT) AS fluency_permille
       FROM bi JOIN bgc USING (bg) JOIN w1c USING (w1)
       GROUP BY doc_id ORDER BY doc_id""")

  /** Trigram frequency: top 30 corpus-wide n-grams. */
  val qNgramStats = Q(
    (s, d) =>
      graft.Par.fanOut(Tables.documents(s, d), "doc_id")
        .withColumn("tokens", tokens(col("text")))
        .filter(size(col("tokens")) >= 3)
        .select(explode(expr(
          """transform(sequence(0, size(tokens) - 3),
               i -> concat(element_at(tokens, i + 1), ' ',
                           element_at(tokens, i + 2), ' ',
                           element_at(tokens, i + 3)))""")).as("trigram"))
        .groupBy(col("trigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(30),
    """SELECT trigram, COUNT(*) AS n
       FROM (SELECT UNNEST(LIST_TRANSFORM(RANGE(LEN(toks) - 2),
               i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS trigram
             FROM (SELECT STRING_SPLIT(text, ' ') AS toks FROM documents)
             WHERE LEN(toks) >= 3)
       GROUP BY trigram ORDER BY n DESC, trigram LIMIT 30""")

  /** Vocabulary-growth (Heaps'-law) curve: new and cumulative distinct
    * bigrams per `bucketDocs`-document checkpoint, in doc_id order.
    * The corpus-measurement twin of dedup/quality — a flattening curve
    * means new data is re-treading old vocabulary. Computed as
    * first-occurrence doc per bigram (one groupBy(min) over the bigram
    * explode — the only corpus-sized shuffle) then a bucket count and
    * a cumulative sum over the checkpoint axis, which is bucket-count
    * sized: the single-partition window is bounded by docs/bucketDocs
    * rows, not the corpus. Unigrams saturate instantly on this
    * corpus's 31-word vocabulary (measured: all 31 in the first
    * bucket); bigrams give a real curve (851 → 916 across sf0.01). */
  def vocabGrowth(docs: org.apache.spark.sql.DataFrame,
                  bucketDocs: Int = 50): org.apache.spark.sql.DataFrame = {
    require(bucketDocs >= 1, s"bucketDocs must be >= 1, got $bucketDocs")
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("tokens", tokens(col("text")))
      .filter(size(col("tokens")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 2),
             i -> concat(element_at(tokens, i + 1), ' ',
                         element_at(tokens, i + 2)))""")).as("bigram"))
      .groupBy(col("bigram")).agg(min(col("doc_id")).as("fd"))
      .groupBy(expr(s"fd DIV $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("new_bigrams"))
      .withColumn("vocab",
        sum(col("new_bigrams")).over(
          Window.orderBy(col("bucket"))).cast("long"))
      .orderBy(col("bucket"))
  }

  val qVocabGrowth = Q(
    (s, d) => vocabGrowth(Tables.documents(s, d)),
    """WITH bg AS (
         SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS bigram
         FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
              UNNEST(RANGE(LEN(toks) - 1)) AS t(i)
         WHERE LEN(toks) >= 2),
       first AS (SELECT bigram, MIN(doc_id) AS fd FROM bg GROUP BY 1),
       ck AS (SELECT fd // 50 AS bucket, COUNT(*) AS new_bigrams
              FROM first GROUP BY 1)
       SELECT bucket, new_bigrams,
              CAST(SUM(new_bigrams) OVER (ORDER BY bucket) AS BIGINT) AS vocab
       FROM ck ORDER BY bucket""")

  /** Canonical text normalization — the first stage of every text
    * pipeline: lowercase, fold every non-[a-z0-9] run to a single
    * space, trim. Kept to ASCII-class regexes because Spark (Java
    * regex) and DuckDB (RE2) agree on those byte-for-byte; Unicode
    * classes (\\p{L} etc.) differ between the engines and would make
    * the op silently engine-dependent. DuckDB's regexp_replace
    * replaces only the FIRST match without the 'g' flag — the twin
    * carries it explicitly. Scale story: pure narrow map, codegen'd,
    * no shuffle; normalization this early shrinks every downstream
    * shingle/token stage. */
  val qTextNormalize = Q(
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), normalizeText(col("text")).as("norm_text"))
        .withColumn("norm_chars", length(col("norm_text")))
        .orderBy(col("doc_id")),
    """SELECT doc_id,
         TRIM(REGEXP_REPLACE(
           REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm_text,
         LEN(TRIM(REGEXP_REPLACE(
           REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g'))) AS norm_chars
       FROM documents ORDER BY doc_id""")

  /** Blocked sorted-neighborhood dedup — the third classic near-dup
    * family next to LSH (q_dedup_minhash) and SimHash: sort documents
    * by a canonical key, then only compare each document to its w
    * nearest neighbors in sort order. Blocking by the key's 2-char
    * prefix keeps the sort PER-BLOCK (a partitionBy window), never a
    * global total order — the variant that still runs at 100 TB,
    * where an unpartitioned row_number would serialize onto one task.
    * The neighbor "join" is an equi-join on (block, rank + offset)
    * built by exploding offsets 1..w, so no range predicate and no
    * nested loop survives to the physical plan. The confirm metric is
    * levenshtein on an 80-char prefix — identical unit-cost dynamic
    * programs in Spark and DuckDB, so the whole pipeline is
    * hash-exact against the oracle. */
  /** Canonical-form expression shared by q_text_normalize and the
    * sorted-neighborhood sort key (and exported via [[graft.Graft]]):
    * lowercase, fold non-[a-z0-9] runs to one space, trim. ASCII-class
    * regexes only — the classes Spark (Java regex) and DuckDB (RE2)
    * interpret identically. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Unicode-aware normalization variant (exported via
    * [[graft.Graft]]): lowercase, fold every run of characters
    * outside Unicode letters/digits (`\p{L}`, `\p{N}`) to one space,
    * trim — the multilingual-corpus form of [[normalizeText]].
    * Java regex and DuckDB RE2 agree on `\p{L}`/`\p{N}`
    * membership for the tested scripts (Latin-1, Greek, CJK,
    * digits), so the graded twin IS hash-checked — the residual
    * divergence risk is non-ASCII CASE FOLDING (`lower` is ICU-full
    * in Java, ASCII+simple in some engines), which GraftApiSpec
    * pins on the Spark side with multilingual fixtures. */
  def normalizeTextUnicode(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^\\p{L}\\p{N} ]", " "), " +", " "))

  /** Graded twin of [[normalizeTextUnicode]] — on the (ASCII)
    * synthetic corpus it must coincide with [[qTextNormalize]]'s
    * output, and the oracle replays the same Unicode classes in RE2,
    * so any engine drift in class membership fails the hash gate. */
  val qTextNormalizeUnicode = Q(
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), normalizeTextUnicode(col("text")).as("norm_text"))
        .withColumn("norm_chars", length(col("norm_text")))
        .orderBy(col("doc_id")),
    """SELECT doc_id,
         TRIM(REGEXP_REPLACE(
           REGEXP_REPLACE(LOWER(text), '[^\p{L}\p{N} ]', ' ', 'g'),
           ' +', ' ', 'g')) AS norm_text,
         LEN(TRIM(REGEXP_REPLACE(
           REGEXP_REPLACE(LOWER(text), '[^\p{L}\p{N} ]', ' ', 'g'),
           ' +', ' ', 'g'))) AS norm_chars
       FROM documents ORDER BY doc_id""")

  /** PUBLIC composable form (exported via [[graft.Graft]]): blocked
    * sorted-neighborhood near-dup pairs of any (doc_id, text) frame —
    * per-block rank windows over the normalized sort key, the
    * (block, rank+offset) equi-join, prefix-levenshtein confirm.
    * Memoized like [[minhashNearDupPairs]]. */
  def sortedNeighborhoodPairs(docs: DataFrame, window: Int = 2,
                              maxLev: Int = 16): DataFrame =
    SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"sorted_pairs:${SessionMemo.planKey(docs)}:$window:$maxLev") {
      // persisted: both join sides read the ranked frame, and without
      // it the normalize+window pipeline executes twice
      val normed = docs.select(col("doc_id"),
        normalizeText(col("text")).as("k"))
        .withColumn("blk", substring(col("k"), 1, 2))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("blk")).orderBy(col("k"), col("doc_id"))))
        .persist()
      // the b side renames EVERY column (incl. blk) so the self-join
      // condition is unambiguous by name — `a("blk") === b("blk")` on
      // two frames of one lineage resolves both sides to the same
      // attribute (Spark warns "trivially true equals predicate") and
      // then silently leans on the dataset-id self-join heuristic to
      // disambiguate; distinct names need no heuristic
      val a = normed.select(col("blk"), col("rk"), col("doc_id").as("id_a"),
          col("k").as("ka"))
        .withColumn("off", explode(sequence(lit(1), lit(window))))
      val b = normed.select(col("blk").as("blk_b"), col("rk").as("rk_b"),
        col("doc_id").as("id_b"), col("k").as("kb"))
      val pairs = cachedPairs(a.join(b,
          col("blk") === col("blk_b") && (col("rk") + col("off")) === col("rk_b"))
        .withColumn("lev",
          levenshtein(substring(col("ka"), 1, 80), substring(col("kb"), 1, 80)))
        .filter(col("lev") <= maxLev)
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"), col("lev")))
      normed.unpersist()
      pairs
    }

  val qDedupSorted = Q(
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_dedup_sorted:$d") {
      sortedNeighborhoodPairs(Tables.documents(s, d))
    },
    """WITH normed AS (
         SELECT doc_id,
           TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS k
         FROM documents),
       ranked AS (
         SELECT doc_id, k, SUBSTR(k, 1, 2) AS blk,
           ROW_NUMBER() OVER (PARTITION BY SUBSTR(k, 1, 2)
                              ORDER BY k, doc_id) AS rk
         FROM normed),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           LEVENSHTEIN(SUBSTR(a.k, 1, 80), SUBSTR(b.k, 1, 80)) AS lev
         FROM ranked a
         JOIN (SELECT UNNEST(RANGE(1, 3)) AS off) o ON TRUE
         JOIN ranked b ON a.blk = b.blk AND a.rk + o.off = b.rk)
       SELECT LEAST(id_a, id_b) AS doc_a, GREATEST(id_a, id_b) AS doc_b, lev
       FROM pairs WHERE lev <= 16
       ORDER BY doc_a, doc_b""")

  /** SimHash candidate PAIRS — completes the simhash family: the
    * signature query proves the fingerprints are portable; this one
    * runs the actual dedup decision on top of them. Candidates from a
    * 16-bit band equi-join (a pair collides if ANY of the 4 bands
    * match — union of 4 equi-joins, never all-pairs), confirmed by
    * hamming distance ≤ 4 over the 63-bit signatures via
    * `bit_count(xor)` — both engines' popcount over the identical
    * integers, so the pair set is hash-exact. The threshold is
    * measured on this corpus: planted twins sit at mean hamming 2.3
    * (max 5), non-twins at 7.0 (min 2), so ≤ 4 keeps 18/25 twins at
    * 0.69 precision while ≤ 8 floods 360 false pairs — on short
    * documents simhash is the noisier family, which is exactly why
    * the ensemble unions it with content-overlap methods rather than
    * trusting it alone. Scale: O(N × bucket) like every LSH path
    * here; the signature frame is memoized.
    *
    * PUBLIC composable form (exported via [[graft.Graft]]): takes any
    * (doc_id, text) frame, confirms band-collision candidates by
    * `bit_count(xor) <= maxHamming`. Memoized like
    * [[minhashNearDupPairs]]; the signature frame persists once per
    * distinct input per session. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame = {
    val s = docs.sparkSession
    val sem = SessionMemo.planKey(docs)
    // the WHOLE pair frame is memoized (like its sibling families), so
    // the ensemble's reuse really is a cheap union — re-running just
    // the band join per consumer measurably doubled the ensemble
    SessionMemo.getOrElseUpdate(s, s"simhash_pairs:$sem:$maxHamming") {
      val sig = SessionMemo.getOrElseUpdate(s, s"simhash_sigs:$sem") {
        simhashSignatures(docs).persist()
      }
      val bands = (0 to 3).map(b =>
        sig.select(col("doc_id"), lit(b).as("band_idx"),
          col(s"band$b").as("band_val")))
        .reduce(_.unionByName(_))
      val sa = sig.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      val sb = sig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
      cachedPairs(collidingPairs(bands, "band_idx", "band_val")
        .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
        .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")))
    }
  }

  val qDedupSimhashPairs = Q(
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_dedup_simhash_pairs:$d") {
      simhashPairs(Tables.documents(s, d))
    },
    s"""WITH sig AS (${qDedupSimhash.oracle.get}),
       bands AS (
         SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM sig
         UNION ALL SELECT doc_id, 1, band1 FROM sig
         UNION ALL SELECT doc_id, 2, band2 FROM sig
         UNION ALL SELECT doc_id, 3, band3 FROM sig),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          AND a.doc_id < b.doc_id)
       SELECT c.doc_a, c.doc_b,
         CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       FROM cand c
       JOIN sig sa ON sa.doc_id = c.doc_a
       JOIN sig sb ON sb.doc_id = c.doc_b
       WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 4
       ORDER BY doc_a, doc_b""")

  /** Ensemble near-dup detection — union the pair sets of the three
    * independent families (MinHash/LSH content overlap,
    * sorted-neighborhood edit distance, SimHash signature hamming)
    * with per-method provenance flags. The families fail differently —
    * LSH misses pairs whose shingle overlap dips below the band
    * threshold, the neighborhood misses pairs whose keys diverge in
    * the first characters, simhash admits noise on short documents —
    * so the union's recall dominates any single method and the flags
    * tell a curation pipeline WHICH evidence fired (a pair flagged by
    * 2+ methods is near-certain). Composes the graded queries' exact
    * code paths (all memoized, so the ensemble adds one cheap
    * union+groupBy, not a recompute).
    *
    * PUBLIC composable form (exported via [[graft.Graft]]): takes any
    * (doc_id, text) frame; the constituents are the memoized generic
    * forms, so graded queries and facade callers share the same
    * per-session builds. */
  def ensembleNearDupPairs(docs: DataFrame): DataFrame = {
    val families = Seq(minhashNearDupPairs(docs), sortedNeighborhoodPairs(docs),
      simhashPairs(docs), containmentPairs(docs))
    val maxes = ensembleFlags.map(f => max(col(f)).as(f))
    ensembleFlags.zip(families)
      .map { case (hot, pairs) =>
        pairs.select(col("doc_a") +: col("doc_b") +:
          ensembleFlags.map(f => lit(if (f == hot) 1 else 0).as(f)): _*)
      }
      .reduce(_.unionByName(_))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(maxes.head, maxes.tail: _*)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The ensemble's four families, one provenance flag each, in the
    * order both engines union them: the symmetric-overlap trio plus
    * containment, which alone catches subset quotations (a chunk of A
    * pasted inside a much larger B scores low Jaccard but containment
    * ≈ 1) — the reason a user reaching for "find my near-dups" must
    * not have to know to call containmentPairs too. */
  private val ensembleFlags =
    Seq("by_minhash", "by_sorted", "by_simhash", "by_containment")

  /** PUBLIC composable benchmark decontamination (exported via
    * [[graft.Graft]]): flag corpus docs sharing >= `minOverlap`
    * word-bigram shingles with an eval set. Two-frame form of
    * [[qDecontaminate]] (whose graded body fuses both sides into one
    * shingle scan — possible there because its benchmark is a slice
    * of the same table; arbitrary frames need separate scans). The
    * bench shingle set stays eval-corpus-sized — AQE broadcasts it.
    * `n` is the n-gram size: the default 2 matches the graded query's
    * bigrams; production decontamination wants longer grams (GPT-3
    * used 13-grams) — longer grams are rarer, so raise `n` and drop
    * `minOverlap` toward 1 together. */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    minOverlap: Int = 3, n: Int = 2): DataFrame = {
    val cs = withNgrams(corpus, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val bs = withNgrams(bench, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val overlaps = cs.join(bs, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col("doc_id"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** PUBLIC composable leakage-safe split (exported via
    * [[graft.Graft]]): assign any (doc_id, text) frame to 80/10/10
    * train/val/test BY NEAR-DUP CLUSTER, so a doc and its twins never
    * straddle splits. The generic form clusters over the MinHash/LSH
    * pair set (the scale path); the graded [[qSplitLeakageSafe]] keeps
    * the exact-jaccard pair set its recursive-CTE oracle replays. */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    splitByCluster(docs, pairComponents(minhashNearDupPairs(docs, threshold))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id")))

  /** Dedup screen quality — MinHash+LSH banding graded against the
    * exact-jaccard ground truth: one row of corpus-level evidence
    * (exact pair count, banded pair count, hits, integer-permille
    * recall and precision). The scaladoc on [[qDedupMinhash]] argues
    * recall ≈ 1 from the corpus' similarity bimodality; this query
    * turns that argument into a graded NUMBER the driver hash-checks
    * (the q_ann_recall convention — measure the approximation, don't
    * assert it). Precision is structurally 1000 here (band candidates
    * are exact-confirmed, so every emitted pair passes the exact
    * threshold) — graded anyway, so a future confirm-step regression
    * shows up as a value change, not a silent semantic drift. Both
    * inputs are memoized graded queries; the join is id-pair-sized.
    * At 100 TB the same query runs over [[exactJaccardSharded]]'s
    * output on a SAMPLED shard — banding recall is estimated, never
    * assumed. */
  lazy val qDedupRecall = Q(
    (s, d) => {
      val exact = qNgramJaccard.fn(s, d).select(col("doc_a"), col("doc_b"))
      val mh = qDedupMinhash.fn(s, d).select(col("doc_a"), col("doc_b"))
      val hits = exact.join(mh.withColumn("m", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("m"), lit(0))).cast("long").as("n_hit"))
      val nmh = mh.agg(count(lit(1)).as("n_minhash"))
      // broadcast-scalar crossJoin: both sides are 1-row aggregates
      // (the EventsOps/GraphOps convention)
      // zero-denominator guard: an empty ground-truth or
      // band-pair set is vacuously satisfied — emit the 1000 sentinel
      // instead of a NULL-vs-NULL parity row on degenerate corpora
      hits.crossJoin(nmh)
        .select(col("n_exact"), col("n_minhash"), col("n_hit"),
          expr("CASE WHEN n_exact = 0 THEN 1000 " +
            "ELSE n_hit * 1000 DIV n_exact END").as("recall_permille"),
          expr("CASE WHEN n_minhash = 0 THEN 1000 " +
            "ELSE n_hit * 1000 DIV n_minhash END").as("precision_permille"))
    },
    Some(s"""WITH ex AS (${qNgramJaccard.oracle.get}),
       mh AS (${qDedupMinhash.oracle.get}),
       j AS (SELECT COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit
             FROM ex LEFT JOIN mh m
               ON ex.doc_a = m.doc_a AND ex.doc_b = m.doc_b),
       c AS (SELECT COUNT(*) AS n_minhash FROM mh)
       SELECT j.n_exact, c.n_minhash, j.n_hit,
         CASE WHEN j.n_exact = 0 THEN 1000
              ELSE j.n_hit * 1000 // j.n_exact END AS recall_permille,
         CASE WHEN c.n_minhash = 0 THEN 1000
              ELSE j.n_hit * 1000 // c.n_minhash END AS precision_permille
       FROM j, c"""))

  // lazy: composes the containment oracle, which is declared further
  // down the object — a strict val here would read it as null during
  // object init
  lazy val qDedupEnsemble = Q(
    (s, d) => ensembleNearDupPairs(Tables.documents(s, d)), {
      val families = Seq(qDedupMinhash, qDedupSorted, qDedupSimhashPairs, qDedupContainment)
      val tagged = ensembleFlags.zip(families).map { case (hot, q) =>
        s"""SELECT doc_a, doc_b, ${ensembleFlags.map(f =>
          s"${if (f == hot) 1 else 0} AS $f").mkString(", ")}
           FROM (${q.oracle.get})"""
      }
      s"""SELECT doc_a, doc_b, ${ensembleFlags.map(f => s"MAX($f) AS $f").mkString(", ")}
         FROM (${tagged.mkString("\n UNION ALL\n")})
         GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""
    })

  /** PUBLIC composable survivor selection (exported via
    * [[graft.Graft]]): cluster any (doc_id, text) frame by MinHash
    * near-dup pairs, then keep the best member of each cluster by
    * `qualityCol` (desc, doc_id tiebreak). Returns (cluster_id,
    * survivor_id, n_members) for multi-member clusters; singletons
    * are trivially their own survivor and are omitted. */
  def survivorsByQuality(docs: DataFrame, qualityCol: String,
                         threshold: Double = 0.5): DataFrame = {
    val clusters = pairComponents(minhashNearDupPairs(docs, threshold))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col("doc_id").asc)
    clusters.join(docs, Seq("doc_id"))
      .withColumn("__graft_n", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"),
        col("__graft_n").as("n_members"))
      .orderBy(col("cluster_id"))
  }

  // ------------------------------------------------- substring-level dedup

  /** Per-document duplicated-substring mass — the distributed analog
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): a document's
    * training value degrades with the fraction of its content that
    * also appears verbatim elsewhere in the corpus, even when no
    * whole-document twin exists. Their suffix array is a single-node
    * structure; the MapReduce-style equivalent is exact token k-gram
    * occurrences → corpus-frequency join → per-doc duplicated mass.
    *
    * Every position (stride 1) is counted, not the distinct set:
    * repeated boilerplate inside one doc is duplicated MASS, and mass
    * is what the flag thresholds.
    *
    * `hashedKeys` selects the shuffle key: `true` (the facade default,
    * and the 100 TB path) replaces each k-gram string with its 8-byte
    * `xxhash64` BEFORE the frequency groupBy and the per-doc join, so
    * the two shuffles move longs instead of ~50-byte strings (~6×
    * smaller); a cross-gram hash collision (2^-64 per pair) could
    * only nudge a screening permille, which is immaterial. `false`
    * keeps the verbatim gram — the form the graded DuckDB oracle
    * replays string-for-string. Both forms produce IDENTICAL output
    * columns and (collisions aside) identical values — pinned equal
    * in NorthStarSpec. */
  def substringHotness(docs: DataFrame, k: Int = 7,
                       flagPermille: Int = 200,
                       hashedKeys: Boolean = false): DataFrame = {
    require(k >= 2, s"shingle size must be >= 2, got $k")
    val base = docs
      .withColumn("tokens", tokens(col("text")))
      .select(col("doc_id"),
        greatest(size(col("tokens")) - lit(k - 1), lit(0)).cast("long").as("n_shingles"),
        col("tokens"))
    val shRaw = base.filter(col("n_shingles") > 0)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(tokens) - ${k - 1}),
              i -> array_join(slice(tokens, i, $k), ' '))""")).as("shingle"))
    val sh = if (hashedKeys)
      shRaw.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    else shRaw
    val freq = sh.distinct().groupBy("shingle").agg(count(lit(1)).as("nd"))
    val perDoc = sh.join(freq, "shingle").filter(col("nd") >= 2)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    base.select("doc_id", "n_shingles")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_permille",
        when(col("n_shingles") > 0, expr("n_dup * 1000 DIV n_shingles"))
          .otherwise(lit(0L)))
      .withColumn("flagged", col("dup_permille") >= lit(flagPermille.toLong))
      .orderBy(col("doc_id"))
  }

  val qSubstringHotness = Q(
    (s, d) => substringHotness(Tables.documents(s, d)),
    """WITH b2 AS (
         SELECT doc_id,
                GREATEST(LEN(STRING_SPLIT(text, ' ')) - 6, 0) AS n_shingles,
                STRING_SPLIT(text, ' ') AS toks
         FROM documents),
       sh AS (
         SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 5),
                  i -> ARRAY_TO_STRING(toks[i:i+6], ' '))) AS shingle
         FROM b2 WHERE n_shingles > 0),
       freq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY 1),
       perdoc AS (
         SELECT s.doc_id, COUNT(*) AS n_dup
         FROM sh s JOIN freq f USING (shingle)
         WHERE f.nd >= 2 GROUP BY 1)
       SELECT b.doc_id, CAST(b.n_shingles AS BIGINT) AS n_shingles,
              COALESCE(p.n_dup, 0) AS n_dup,
              CASE WHEN b.n_shingles > 0
                   THEN COALESCE(p.n_dup, 0) * 1000 // b.n_shingles
                   ELSE 0 END AS dup_permille,
              (CASE WHEN b.n_shingles > 0
                    THEN COALESCE(p.n_dup, 0) * 1000 // b.n_shingles
                    ELSE 0 END) >= 200 AS flagged
       FROM b2 b LEFT JOIN perdoc p USING (doc_id)
       ORDER BY doc_id""")

  /** Span-level scrub — the APPLY side of [[substringHotness]]'s
    * detect: every token position covered by a k-gram that occurs in
    * ≥ `minDocs` DISTINCT documents is removed, and the surviving
    * tokens are reassembled in order (Lee et al. 2022 remove the
    * duplicated spans themselves, not whole documents — scoring tells
    * you which docs are damaged, scrubbing repairs them). Returns one
    * row per input doc: (doc_id, clean_text, n_kept, n_removed); a
    * fully-boilerplate doc survives as an empty clean_text rather
    * than vanishing, so downstream joins never lose keys.
    *
    * Scale shape: positions and shingles are narrow map+explode; the
    * only corpus-sized exchanges are the gram-frequency groupBy, the
    * gram join back, and the per-doc reassembly groupBy. The covered-
    * position fan-out is hot-occurrences × k — proportional to the
    * duplicated mass, not the corpus — and reassembly sorts WITHIN
    * one doc's collected struct array (sort_array over ≤ doc-length
    * elements), never a global sort. At 100 TB the gram key would ride
    * the same xxhash64 swap as substringHotness's facade form; kept
    * verbatim here so the DuckDB oracle replays string-for-string. */
  def spanScrub(docs: DataFrame, k: Int = 7, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"shingle size must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs
      .withColumn("tokens", tokens(col("text")))
      .select(col("doc_id"), col("tokens"),
        size(col("tokens")).cast("long").as("n_tokens"))
    val toks = base.select(col("doc_id"),
        posexplode(col("tokens")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val sh = base.filter(size(col("tokens")) >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(tokens) - ${k - 1}),
              i -> struct(i AS spos,
                          array_join(slice(tokens, i, $k), ' ') AS gram))"""))
        .as("s"))
      .select(col("doc_id"), col("s.spos").as("spos"), col("s.gram").as("gram"))
    val hot = sh.select(col("doc_id"), col("gram")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gram"))
    val covered = sh.join(hot, "gram")
      .select(col("doc_id"),
        explode(sequence(col("spos"), col("spos") + lit(k - 1))).as("pos"))
      .distinct()
    val rebuilt = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          "transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  val qSpanScrub = Q(
    (s, d) => spanScrub(Tables.documents(s, d)),
    """WITH b AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
       t AS (SELECT doc_id, i AS pos, toks[i] AS tok
             FROM b, UNNEST(RANGE(1, LEN(toks) + 1)) AS r(i)),
       sh AS (SELECT doc_id, i AS spos,
                     ARRAY_TO_STRING(toks[i:i+6], ' ') AS gram
              FROM b, UNNEST(RANGE(1, LEN(toks) - 5)) AS r(i)),
       freq AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY 1),
       cov AS (SELECT DISTINCT s.doc_id, p AS pos
               FROM sh s JOIN freq f USING (gram),
                    UNNEST(RANGE(s.spos, s.spos + 7)) AS u(p)
               WHERE f.nd >= 2),
       surv AS (SELECT t.doc_id, t.pos, t.tok
                FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
                WHERE c.pos IS NULL),
       reb AS (SELECT doc_id,
                      ARRAY_TO_STRING(LIST(tok ORDER BY pos), ' ') AS clean_text,
                      COUNT(*) AS n_kept
               FROM surv GROUP BY 1)
       SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text,
              CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
              CAST(LEN(b.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
       FROM b LEFT JOIN reb r USING (doc_id)
       ORDER BY b.doc_id""")

  /** Asymmetric containment screen — |A ∩ B| / min(|A|, |B|) over
    * distinct k-gram sets. Jaccard misses subset relations (a chunk
    * quoted inside a much larger doc scores low); containment is the
    * measure curation stacks (e.g. Dolma) use to catch them. Pairs
    * come from an equi-join on shared shingles, never all-pairs;
    * shingles shared by more than [[MaxShingleFanout]] docs are
    * boilerplate — they add pairs quadratically and evidence of
    * nothing — and are dropped from pairing (the same common-band cap
    * the LSH paths use), symmetrically in the oracle. */
  val MaxShingleFanout: Int = 64

  def containmentPairs(docs: DataFrame, k: Int = 7,
                       minPermille: Int = 500): DataFrame = {
    require(k >= 2, s"shingle size must be >= 2, got $k")
    // the distinct (doc, shingle) table feeds THREE consumers (sizes,
    // frequency, pairing) — memoized + persisted once per (input, k)
    // per session, same lifecycle pattern as the other pair families
    // (bench: 1.8 s → 0.6 s at sf0.1)
    val sets = SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"containment_sets:${SessionMemo.planKey(docs)}:$k") {
      graft.Par.fanOut(docs, "doc_id")
        .withColumn("tokens", tokens(col("text")))
        .filter(size(col("tokens")) >= k)
        .select(col("doc_id"), explode(expr(
          s"""array_distinct(transform(sequence(1, size(tokens) - ${k - 1}),
                i -> array_join(slice(tokens, i, $k), ' ')))""")).as("shingle"))
        .persist()
    }
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // the pairable occurrences are consumed TWICE (both sides of the
    // self-join), and each side would re-run the frequency groupBy +
    // join — memoized alongside sets (it is fanout-capped, so its
    // size is bounded by 64 × #dup-shingles, far below the corpus)
    val rare = SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"containment_rare:${SessionMemo.planKey(docs)}:$k") {
      val freq = sets.groupBy("shingle").agg(count(lit(1)).as("nd"))
      sets.join(freq.filter(col("nd").between(2, MaxShingleFanout)), "shingle")
        .select(col("doc_id"), col("shingle"))
        .persist()
    }
    // the final pair set is memoized like its sibling families (the
    // ensemble and the graded query both consume it)
    SessionMemo.getOrElseUpdate(docs.sparkSession,
      s"containment_pairs:${SessionMemo.planKey(docs)}:$k:$minPermille") {
      cachedPairs(rare.as("a").join(rare.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .withColumn("containment_permille",
          expr("n_shared * 1000 DIV least(sz_a, sz_b)"))
        .filter(col("containment_permille") >= lit(minPermille.toLong))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("containment_permille")))
    }
  }

  val qDedupContainment = Q(
    (s, d) => containmentPairs(Tables.documents(s, d)),
    """WITH sets AS (
         SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 5),
                  i -> ARRAY_TO_STRING(toks[i:i+6], ' '))) AS shingle
         FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
         WHERE LEN(toks) >= 7),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY 1),
       freq AS (SELECT shingle, COUNT(*) AS nd FROM sets GROUP BY 1),
       rare AS (
         SELECT s.doc_id, s.shingle FROM sets s JOIN freq f USING (shingle)
         WHERE f.nd BETWEEN 2 AND 64),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         FROM rare a JOIN rare b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, n_shared,
              n_shared * 1000 // LEAST(sa.sz, sb.sz) AS containment_permille
       FROM pairs p
       JOIN sizes sa ON p.doc_a = sa.doc_id
       JOIN sizes sb ON p.doc_b = sb.doc_id
       WHERE n_shared * 1000 // LEAST(sa.sz, sb.sz) >= 500
       ORDER BY doc_a, doc_b""")

  /** Character q-gram blocking for fuzzy entity matching: grams
    * appearing in more than this many distinct values are stop-grams
    * (" bo" in every "... bolt") — they add candidate pairs
    * quadratically and evidence of nothing, the same cap rationale as
    * [[MaxShingleFanout]], sized larger because entity-name tables
    * legitimately share substrings more than documents share
    * 7-gram shingles. */
  val MaxGramFanout: Int = 1000

  /** Record-linkage fuzzy matching: pairs of DISTINCT values of
    * `nameCol` within edit distance `maxDist`, as (name_a, name_b,
    * dist) with name_a < name_b — complete for every pair whose
    * q-gram blocking guarantee holds (see recall caveat below).
    *
    * Candidates come from an equi-join on shared character q-grams —
    * two strings within edit distance d share at least
    * max(|a|,|b|) − q+1 − d·q grams — never from an all-pairs cross
    * join. Stop-grams (> [[MaxGramFanout]] distinct values) are
    * dropped from BLOCKING only, symmetrically in the oracle; a
    * length-bucket join key prunes |len(a)−len(b)| > maxDist
    * candidates before the self-join (exact filter re-applied after);
    * the confirm uses Spark's banded `levenshtein(l, r, threshold)`
    * (O(maxDist·len) per pair instead of O(len²), returns −1 above
    * the band).
    *
    * RECALL: the shared-gram guarantee (max(|a|,|b|) − q+1 − d·q ≥ 1)
    * holds for pairs whose LONGER string has length ≥ q·(maxDist+1)
    * (9 chars at the defaults q=3, maxDist=2). Pairs where BOTH
    * strings are shorter ("abc" vs "abd") could sit within maxDist
    * yet share zero q-grams, so those lengths get a supplementary
    * SHORT TIER: unigram blocking — two strings within distance d
    * share at least max(|a|,|b|) − d ≥ 1 characters whenever
    * max(|a|,|b|) > d, true for every admitted length (≥ q) when
    * q > maxDist. In the degenerate q ≤ maxDist configuration even
    * single characters prove nothing (disjoint-alphabet pairs like
    * "abc"/"xyz" at d=3 share NO content), so the short tier falls
    * back to all-pairs within the stratum. Either way the recall law
    * now covers every admitted length; values shorter than q
    * characters are excluded outright. The short stratum is
    * vocabulary-bounded (strings under q·(maxDist+1) chars are short
    * codes, not documents), so the uncapped unigram tier stays
    * match-graph-sized; the hot-gram fanout cap applies to the main
    * tier only, symmetrically in the oracle.
    *
    * Scale: the only corpus-sized stages are the distinct + gram
    * explode (narrow after the distinct's shuffle); candidate volume
    * is Σ per-(gram, length-bucket) products over rare grams, bounded
    * by the fanout cap — the standard blocked record-linkage shape
    * (Fellegi-Sunter era; same candidates-then-confirm discipline as
    * the LSH families).
    *
    * PUBLIC composable form (exported via [[graft.Graft]]). */
  def fuzzyMatchPairs(names: DataFrame, nameCol: String, maxDist: Int = 2,
                      q: Int = 3, hotGramCap: Int = MaxGramFanout): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 2, s"gram size must be >= 2, got $q")
    // the rare-gram occurrence table feeds both sides of the
    // candidate self-join — memoized + persisted once per (input,
    // col, q, cap) per session, the same lifecycle as the dedup pair
    // families (and the build cost lands in Bench's memo_builds)
    val rare = SessionMemo.getOrElseUpdate(names.sparkSession,
      s"fuzzy_grams:${SessionMemo.planKey(names)}:$nameCol:$q:$hotGramCap") {
      val distinctNames = names
        .select(col(nameCol).cast("string").as("name"))
        .filter(col("name").isNotNull && length(col("name")) >= q)
        .distinct()
      val grams = distinctNames.select(col("name"), explode(expr(
        s"""array_distinct(transform(sequence(1, length(name) - ${q - 1}),
              i -> substring(name, i, $q)))""")).as("gram"))
      val freq = grams.groupBy("gram").agg(count(lit(1)).as("nd"))
      grams.join(freq.filter(col("nd").between(2, hotGramCap)), "gram")
        .select(col("name"), col("gram"))
        .persist()
    }
    // Length-bucketed blocking: |len(a)−len(b)| ≤ maxDist implies the
    // two length buckets (len DIV (maxDist+1)) differ by at most 1, so
    // joining on (gram, bucket) with the probe side exploded to its
    // three neighboring buckets is a strict superset of the exact
    // length filter (still applied below) — results are unchanged,
    // but a hot gram's self-join volume falls from nd² to
    // Σ per-(gram,bucket) products, pruning BEFORE the join instead
    // of after the candidate distinct (the length spread of the
    // corpus divides the dominant term).
    val bucket = maxDist + 1
    val build = rare.withColumn("lb",
      expr(s"CAST(length(name) DIV $bucket AS INT)"))
    val probe = build.withColumn("lb",
      explode(array(col("lb") - 1, col("lb"), col("lb") + 1)))
    val gramCand = build.as("a").join(probe.as("b"),
        col("a.gram") === col("b.gram") && col("a.lb") === col("b.lb") &&
          col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // Short tier (see RECALL above): pairs where BOTH strings are
    // under q·(maxDist+1) chars have no q-gram guarantee — block them
    // on shared unigrams (uncapped; the stratum is vocabulary-bounded
    // short codes), or on nothing at all when q ≤ maxDist, where even
    // a shared character is not guaranteed. Candidates are a SUPERSET
    // either way; the exact length filter + banded confirm below make
    // any candidate superset converge to the same true-pair set.
    val shortMax = q * (maxDist + 1)
    val shortNames = names
      .select(col(nameCol).cast("string").as("name"))
      .filter(col("name").isNotNull &&
        length(col("name")).between(q, shortMax - 1))
      .distinct()
    val shortCand =
      if (q > maxDist) {
        val uni = shortNames.select(col("name"), explode(expr(
          """array_distinct(transform(sequence(1, length(name)),
                i -> substring(name, i, 1)))""")).as("g"))
        uni.as("a").join(uni.as("b"),
            col("a.g") === col("b.g") && col("a.name") < col("b.name"))
          .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      } else
        shortNames.as("a")
          .join(shortNames.as("b"), col("a.name") < col("b.name"))
          .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    gramCand.union(shortCand)
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Entity resolution — the full record-linkage decision:
    * [[fuzzyMatchPairs]] finds the evidence, connected components
    * over the match graph assign every distinct value of `nameCol`
    * to an entity, labeled by the component's minimum `idCol`
    * (min-of-`idCol` per name is the deterministic numeric node id;
    * unmatched names form singleton entities under their own id).
    * Returns (name, entity_id, n_members) — the "these 4 spellings
    * are one product" table an MDM / catalog-cleanup pipeline joins
    * back onto the fact table.
    *
    * Scale: pairs are gram-blocked (never all-pairs); the match
    * graph is match-sized, orders of magnitude smaller than the
    * corpus, and [[componentLabels]] switches from union-find to
    * pointer-doubled distributed propagation past 1M edges.
    *
    * `idCol` must be a NUMERIC column: node ids feed the Long-typed
    * component propagation, and min() over a non-numeric id would
    * change label semantics anyway. The type is checked on the
    * resolved schema up front — a string id column would NOT fail a
    * string→long cast at analysis (it fails at runtime under ANSI
    * mode, and with ANSI off it silently nulls, flowing unmatched
    * names into the null-nid left-join path) — so the guard below is
    * the genuinely early, clear error.
    *
    * PUBLIC composable form (exported via [[graft.Graft]]). */
  def entityResolve(names: DataFrame, nameCol: String, idCol: String,
                    maxDist: Int = 2, gramSize: Int = 3): DataFrame = {
    val idType = names.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"entityResolve: idCol '$idCol' must be numeric, got $idType — " +
        "cast or derive a numeric surrogate id before calling")
    val ids = names
      .select(col(nameCol).cast("string").as("name"),
        col(idCol).cast("long").as("id"))
      .filter(col("name").isNotNull && length(col("name")) >= gramSize)
      .groupBy(col("name"))
      .agg(min(col("id")).as("nid"))
    val pairs = fuzzyMatchPairs(names, nameCol, maxDist, gramSize)
      .join(ids.select(col("name").as("name_a"), col("nid").as("u")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("nid").as("v")), "name_b")
      .select(col("u"), col("v"))
    // plain persist, not lineage truncation: the edge list is consumed
    // a bounded number of times inside componentLabels (count + collect
    // in the union-find branch; the eagerly-pinned propagation rounds
    // in the distributed branch), not rebuilt iteratively, so the
    // CacheManager cache is the right tool — and unlike a
    // localCheckpoint, releasing it in the finally is silent and safe
    // (a mistimed release recomputes instead of losing data)
    val edges = pairs
      .union(pairs.select(col("v").as("u"), col("u").as("v")))
      .toDF("u", "v")
      .persist()
    val labels =
      try componentLabels(edges).select(col("node").as("nid"), col("lbl"))
      finally { edges.unpersist(blocking = false); () }
    val resolved = ids.join(labels, Seq("nid"), "left")
      .select(col("name"), coalesce(col("lbl"), col("nid")).as("entity_id"))
    // member counts as a window over the entity partition, not a
    // groupBy + self-join: the join's build side (one row per entity,
    // INCLUDING singletons — name-pool-sized, not match-graph-sized)
    // sat exactly on the planner's broadcast-threshold boundary, so
    // the join flipped BHJ → SMJ+extra-shuffle between sf0.01 and
    // sf0.1 (the census --crosssf sf0.1 leg catches such flips). The
    // window needs ONE hash exchange on entity_id at every scale —
    // same bytes the SMJ shape shuffled, minus the duplicate
    // aggregate subtree and the join itself.
    resolved
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("entity_id"))))
      .select(col("name"), col("entity_id"), col("n_members"))
      .orderBy(col("name"))
  }

  /** Oracle twin of [[fuzzyMatchPairs]] at the defaults (q = 3,
    * maxDist = 2, cap 1000) over a `names(name, ...)` CTE body: gram
    * blocking + the hot-gram cap + the full levenshtein confirm →
    * `pairs(name_a, name_b)`. The engine's short tier (names under
    * q·(maxDist+1) = 9 chars have no q-gram guarantee and are blocked
    * on shared unigrams) is replayed as all-pairs within that stratum:
    * a candidate superset, which the confirm converges to the same
    * true-pair set. Splice after WITH / WITH RECURSIVE. */
  private def duckFuzzyCtes(names: String): String =
    s"""names AS ($names),
       grams AS (
         SELECT DISTINCT name, substr(name, CAST(g AS INT), 3) AS gram
         FROM names, UNNEST(range(1, length(name) - 1)) AS t(g)),
       freq AS (SELECT gram, count(*) AS nd FROM grams GROUP BY 1),
       rare AS (
         SELECT g.name, g.gram FROM grams g JOIN freq USING (gram)
         WHERE nd BETWEEN 2 AND 1000),
       cand AS (
         SELECT DISTINCT a.name AS name_a, b.name AS name_b
         FROM rare a JOIN rare b ON a.gram = b.gram AND a.name < b.name
         UNION
         SELECT a.name, b.name FROM names a JOIN names b
         ON a.name < b.name
         WHERE length(a.name) < 9 AND length(b.name) < 9),
       pairs AS (
         SELECT name_a, name_b FROM cand
         WHERE abs(length(name_a) - length(name_b)) <= 2
           AND levenshtein(name_a, name_b) <= 2)"""

  /** Graded exhibit: fuzzy matches among the 64 distinct part names
    * (edit distance ≤ 2 catches the "cold/old", "new/red"
    * adjective swaps). */
  val qFuzzyMatch = Q(
    (s, d) => fuzzyMatchPairs(Tables.part(s, d), "p_name"),
    s"""WITH ${duckFuzzyCtes(
         "SELECT DISTINCT p_name AS name FROM part WHERE length(p_name) >= 3")}
       SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
       FROM pairs ORDER BY name_a, name_b""")

  /** Graded exhibit: the part catalog resolved to entities — every
    * name gets an entity_id (min p_partkey over its fuzzy-match
    * component) and the component size. The oracle replays the match
    * plus a recursive-CTE reachability closure (the match graph is
    * name-pool-sized, so the quadratic closure is safe THERE; the
    * Spark side uses [[componentLabels]]). */
  val qEntityResolution = Q(
    // result-frame memo, the qDedupClusters convention:
    // entityResolve runs its connected-components step EAGERLY at
    // call time (edge count + union-find collect on the graded
    // graph), so without the memo every bench sample re-paid the
    // resolution rather than the read — the resolved entity table
    // for a fixed corpus is a fixed table, one build per session
    (s, d) => SessionMemo.getOrElseUpdate(s, s"q_entity_resolution:$d") {
      entityResolve(Tables.part(s, d), "p_name", "p_partkey")
    },
    s"""WITH RECURSIVE ${duckFuzzyCtes(
         "SELECT p_name AS name, MIN(p_partkey) AS nid FROM part " +
           "WHERE length(p_name) >= 3 GROUP BY 1")},
       pe AS (SELECT na.nid AS u, nb.nid AS v
              FROM pairs
              JOIN names na ON name_a = na.name
              JOIN names nb ON name_b = nb.name),
       edges AS (SELECT u, v FROM pe UNION SELECT v, u FROM pe),
       reach(u, v) AS (SELECT u, v FROM edges
                       UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       comp AS (SELECT u AS nid, LEAST(u, MIN(v)) AS lbl FROM reach GROUP BY u),
       lab AS (SELECT n.name, COALESCE(c.lbl, n.nid) AS entity_id
               FROM names n LEFT JOIN comp c USING (nid))
       SELECT l.name, l.entity_id, s.n_members
       FROM lab l
       JOIN (SELECT entity_id, COUNT(*) AS n_members FROM lab GROUP BY 1) s
         USING (entity_id)
       ORDER BY name""")

  /** Out-of-vocabulary rate per document against the corpus top-K
    * vocabulary — the unk-rate estimate that sizes a tokenizer's
    * coverage before training (a doc whose tokens mostly fall outside
    * the planned vocab is noise to that tokenizer). K = 20 here so
    * the synthetic 31-word corpus has a real OOV tail; rank ties
    * break on the term itself so the vocab set is total-ordered and
    * engine-portable. The rate is integer permille (n_oov·1000 DIV
    * n_tokens) — exact in any engine.
    *
    * Scale shape: the vocab is one partial-aggregated token count
    * (vocab-sized shuffle, NOT corpus-sized) + TakeOrdered K, then
    * broadcast into the per-token membership probe; the per-doc
    * count is the only other corpus-sized exchange. The top-K frame
    * is K rows by construction, so the broadcast never grows with
    * the corpus. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): OOV rate
    * of any (doc_id, text) frame against its own top-`vocabSize`
    * vocabulary. */
  def oovRate(docs: DataFrame, vocabSize: Int = 20): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille",
        expr("n_oov * 1000 DIV n_tokens"))
      .orderBy(col("doc_id"))
  }

  val qOovRate = Q(
    (s, d) => oovRate(Tables.documents(s, d)),
    """WITH toks AS (
         SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
       vocab AS (
         SELECT term FROM (SELECT term, COUNT(*) AS c FROM toks GROUP BY term)
         ORDER BY c DESC, term ASC LIMIT 20)
       SELECT doc_id, n_tokens, n_oov, n_oov * 1000 // n_tokens AS oov_permille
       FROM (
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         FROM toks t LEFT JOIN vocab v USING (term)
         GROUP BY doc_id)
       ORDER BY doc_id""")

  /** Per-document n-gram novelty — of each doc's DISTINCT trigrams,
    * the fraction whose global FIRST appearance (min doc_id) is this
    * doc. The data-valuation signal behind "does this shard add
    * anything": near-zero novelty late in a crawl means the source is
    * re-serving known content. Complements [[qVocabGrowth]] (corpus
    * vocab curve by bucket) with per-document attribution, and
    * q_repetition_ratio (intra-doc) with a cross-doc measure.
    * Permille in integer DIV — exact in any engine.
    *
    * Scale shape: per-doc DISTINCT trigrams (doc-keyed distinct, the
    * shingle cardinality), one trigram-keyed min(doc_id) aggregate
    * (partial-agg'd — vocab-of-trigrams-sized shuffle), one
    * trigram-keyed join back, one doc-keyed count. No all-pairs
    * anywhere; attribution rides the same trigram key end-to-end so
    * AQE can co-partition the agg and the join. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): per-doc
    * novel-trigram attribution over any (doc_id, text) frame. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val tri = graft.Par.fanOut(docs, "doc_id")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 3),
             i -> concat(element_at(toks, i + 1), ' ',
                         element_at(toks, i + 2), ' ',
                         element_at(toks, i + 3)))""")).as("trigram"))
      .distinct()
    val first = tri.groupBy(col("trigram"))
      .agg(min(col("doc_id")).as("first_doc"))
    tri.join(first, Seq("trigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_permille",
        expr("n_novel * 1000 DIV n_distinct"))
      .orderBy(col("doc_id"))
  }

  val qNgramNovelty = Q(
    (s, d) => ngramNovelty(Tables.documents(s, d)),
    """WITH tri AS (
         SELECT DISTINCT doc_id, trigram
         FROM (SELECT doc_id,
                 UNNEST(LIST_TRANSFORM(RANGE(LEN(toks) - 2),
                   i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
                   AS trigram
               FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
               WHERE LEN(toks) >= 3)),
       first AS (SELECT trigram, MIN(doc_id) AS first_doc FROM tri GROUP BY trigram)
       SELECT doc_id, n_distinct, n_novel,
         n_novel * 1000 // n_distinct AS novelty_permille
       FROM (
         SELECT t.doc_id, COUNT(*) AS n_distinct,
           CAST(SUM(CASE WHEN first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel
         FROM tri t JOIN first USING (trigram)
         GROUP BY t.doc_id)
       ORDER BY doc_id""")

  /** Cross-source duplication matrix — WHICH sources duplicate WHICH:
    * near-dup pair counts rolled up by (source_a, source_b), the
    * observability table that turns a pair list into a curation
    * decision (two mirrors of one crawl → drop a source; one source
    * quoting another → re-weight, don't drop). Sources are
    * canonicalized least/greatest so the matrix is upper-triangular
    * and a pair is counted once regardless of doc order.
    *
    * Scale shape: the pair frame IS the dedup output
    * (dup-graph-sized, orders of magnitude below the corpus), and
    * both enrichment joins are equi on doc_id against the pruned
    * (doc_id, source) projection — the corpus is scanned once,
    * two-columns-wide, and only pair-side rows survive the join. The
    * rollup output is |sources|² at worst — dimension-sized. Reuses
    * the session-memoized MinHash pair family, so after any dedup
    * query ran, this costs only the enrichment. */
  /** PUBLIC composable form (exported via [[graft.Graft]]). */
  def crossSourceDupMatrix(docs: DataFrame, threshold: Double = 0.5,
                           sourceCol: String = "source"): DataFrame = {
    val pairs = minhashNearDupPairs(docs, threshold)
      .select(col("doc_a"), col("doc_b"))
    val src = docs.select(col("doc_id"), col(sourceCol).as("src"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("src").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("src").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val qDedupCrossSource = Q(
    (s, d) => crossSourceDupMatrix(Tables.documents(s, d)),
    s"""WITH mh AS (${qDedupMinhash.oracle.get}),
       src AS (SELECT doc_id, source FROM documents)
       SELECT LEAST(a.source, b.source) AS source_a,
              GREATEST(a.source, b.source) AS source_b,
              COUNT(*) AS n_pairs
       FROM mh JOIN src a ON mh.doc_a = a.doc_id
               JOIN src b ON mh.doc_b = b.doc_id
       GROUP BY 1, 2
       ORDER BY source_a, source_b""")

  /** Dedup-cluster size distribution — the one-glance health check of
    * a dedup run: a long tail of size-2 clusters is normal near-dup
    * noise; a single giant component usually means boilerplate
    * stitched everything together (threshold too low, or a template
    * gram family that should have been scrubbed first). Includes the
    * size-1 row (docs in NO near-dup cluster) so the histogram sums
    * to the corpus and the dedup rate reads directly off it.
    *
    * Scale shape: everything downstream of the memoized cluster table
    * is cluster-count-sized; the only corpus-sized touch is one
    * count(*) for the singleton row. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): histogram
    * of any (cluster_id, cluster_size) cluster table against its
    * (doc_id) corpus. */
  def dedupClusterSizes(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val per = clusters.select(col("cluster_id"), col("cluster_size")).distinct()
    val hist = per.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(per.agg(coalesce(sum(col("cluster_size")), lit(0L)).as("n_in")))
      // invariant enforced loudly: sum(cluster_size) over
      // the cluster table can never exceed the corpus — a negative
      // singleton count means the cluster table carries members not in
      // `docs` (or inflated sizes), and silently filtering that row
      // would break the documented "rows sum to the corpus" contract
      // without a trace. raise_error sits in the lazy CaseWhen branch
      // (same convention as componentLabels' round-cap fail-fast);
      // the ==0 case stays a plain filter — it is legitimate when
      // every doc is in some cluster.
      .select(lit(1L).as("cluster_size"),
        when(col("n_docs") < col("n_in"),
          expr("""CAST(raise_error(concat(
            'dedupClusterSizes: sum(cluster_size)=', n_in,
            ' exceeds corpus count=', n_docs,
            ' - cluster table has members outside docs or inflated sizes'))
            AS BIGINT)"""))
          .otherwise(col("n_docs") - col("n_in")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    // re-aggregate after the union: belt-and-braces against a
    // degenerate size-1 component ever appearing in the cluster table
    hist.unionByName(singles)
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  val qDedupClusterSizes = Q(
    (s, d) => dedupClusterSizes(Tables.documents(s, d), qDedupClusters.fn(s, d)),
    s"""$duckCompCtes,
       per AS (SELECT cluster_id, COUNT(*) AS cluster_size
               FROM comp GROUP BY cluster_id),
       hist AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
                FROM per GROUP BY cluster_size),
       singles AS (
         SELECT CAST(1 AS BIGINT) AS cluster_size,
                (SELECT COUNT(*) FROM documents)
                  - COALESCE((SELECT SUM(cluster_size) FROM per), 0)
                  AS n_clusters)
       SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
       FROM (SELECT * FROM hist UNION ALL
             SELECT * FROM singles WHERE n_clusters > 0)
       GROUP BY cluster_size
       ORDER BY cluster_size""")

  /** Per-source dedup rate — the source re-weighting decision table:
    * per source, how many docs sit in a near-dup cluster, how many
    * survive canonicalization, and the integer-permille removal rate.
    * A source shedding half its mass to dedup is over-represented in
    * the raw crawl and should be down-weighted BEFORE sampling, not
    * re-discovered after training.
    *
    * Precondition: `clusters` must be min-id-labeled (cluster_id ==
    * the component's minimum doc_id — what [[qDedupClusters]] /
    * [[componentLabels]] emit), because the canonical survivor of a
    * cluster is recognized as the member whose doc_id equals its
    * cluster_id. n_kept = non-members + clusters canonicalized into
    * this source.
    *
    * Scale shape: one equi-join of the pruned (doc_id, source)
    * projection against the dup-graph-sized member table, one
    * source-keyed aggregate — the corpus is touched once,
    * two-columns-wide. */
  /** PUBLIC composable form (exported via [[graft.Graft]]). `sourceCol`
    * names the stratum column (API parity with
    * [[crossSourceDupMatrix]] — the two are documented as a family);
    * the output column is always `source`. */
  def dedupRateBySource(docs: DataFrame, clusters: DataFrame,
                        sourceCol: String = "source"): DataFrame = {
    val members = clusters.select(col("doc_id"), col("cluster_id"))
    docs.select(col("doc_id"), col(sourceCol).as("source"))
      .join(members, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("cluster_id") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_docs") - col("n_dup_docs") + col("n_canonical")).as("n_kept"))
      .withColumn("removed_permille",
        expr("(n_docs - n_kept) * 1000 DIV n_docs"))
      .orderBy(col("source"))
  }

  val qDedupRateBySource = Q(
    (s, d) => dedupRateBySource(Tables.documents(s, d), qDedupClusters.fn(s, d)),
    s"""$duckCompCtes,
       enr AS (SELECT d.source, d.doc_id, c.cluster_id
               FROM documents d LEFT JOIN comp c USING (doc_id)),
       per AS (SELECT source, COUNT(*) AS n_docs,
                 SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS n_dup,
                 SUM(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END) AS n_canon
               FROM enr GROUP BY source)
       SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
         CAST(n_dup AS BIGINT) AS n_dup_docs,
         CAST(n_docs - n_dup + n_canon AS BIGINT) AS n_kept,
         CAST((n_dup - n_canon) * 1000 // n_docs AS BIGINT) AS removed_permille
       FROM per ORDER BY source""")

  val defs: Map[String, Q] = Map(
    "q_fuzzy_match" -> qFuzzyMatch,
    "q_entity_resolution" -> qEntityResolution,
    "q_substring_hotness" -> qSubstringHotness,
    "q_span_scrub" -> qSpanScrub,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_survivors" -> qDedupSurvivors,
    "q_dedup_simhash_pairs" -> qDedupSimhashPairs,
    "q_dedup_ensemble" -> qDedupEnsemble,
    "q_dedup_sorted" -> qDedupSorted,
    "q_text_normalize" -> qTextNormalize,
    "q_text_normalize_unicode" -> qTextNormalizeUnicode,
    "q_dedup_exact" -> qDedupExact,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_clusters" -> qDedupClusters,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_decontaminate" -> qDecontaminate,
    "q_split_leakage_safe" -> qSplitLeakageSafe,
    "q_lang_id" -> qLangId,
    "q_text_quality" -> qTextQuality,
    "q_token_count" -> qTokenCount,
    "q_fingerprint" -> qFingerprint,
    "q_tfidf" -> qTfidf,
    "q_bm25" -> qBm25,
    "q_inverted_index" -> qInvertedIndex,
    "q_vocab_growth" -> qVocabGrowth,
    "q_ngram_stats" -> qNgramStats,
    "q_fluency_score" -> qFluencyScore,
    "q_oov_rate" -> qOovRate,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_dedup_cross_source" -> qDedupCrossSource,
    "q_dedup_cluster_sizes" -> qDedupClusterSizes,
    "q_dedup_rate_by_source" -> qDedupRateBySource,
    "q_dedup_recall" -> qDedupRecall)
}
