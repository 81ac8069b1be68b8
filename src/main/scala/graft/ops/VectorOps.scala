package graft.ops

import graft.{Q, SessionMemo, Tables}
import graft.functions.{DotProductExpr, L2DistExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings(vec_id, embedding float[64],
  * label)` — north-star ops.
  *
  * Every cosine is an in-order left fold of `(double) a[i] * (double)
  * b[i]` — through higher-order functions (`zip_with` / `transform` /
  * `aggregate`) on the oracle-checked paths, through the native
  * codegen'd [[graft.functions.DotProductExpr]] in [[knnTopK]], and the
  * IVF argmin through [[graft.functions.L2DistExpr]]. Float→double
  * conversion is exact and double multiply/add/sqrt/divide are IEEE
  * deterministic given the order, so all of them are bit-identical to
  * each other and to the DuckDB oracle's LIST_REDUCE over the same
  * doubles (a 0.0 seed is exact because 0.0 + x == x).
  *
  * Every top-k query is one chain: candidates → [[scored]] (or
  * [[scoredPairs]] for id-only candidates) → [[topK]] / [[ranked]].
  * Only the candidate set differs: brute force is O(|Q| × N), fine
  * for a small broadcast query set; the LSH paths score only
  * within-bucket pairs of portable random-hyperplane signatures (no
  * RNG, no engine hash, so even the approximate paths are
  * oracle-checkable); the IVF paths score a query's trained cells. */
object VectorOps {

  /** (vec_id, embedding) → (vec_id, v double[], norm) for any frame;
    * the spec evals compose the graded kernels over it directly. */
  private[graft] def normedOf(e: DataFrame): DataFrame =
    e.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .drop("embedding")

  /** vec_id, label, v (double[]), norm. The embeddings corpus ships as
    * one small parquet file, a single-task scan; fanning it out keeps
    * the per-row HOF kernels downstream parallel. */
  private def normed(s: SparkSession, d: String): DataFrame =
    normedOf(graft.Par.fanOut(Tables.embeddings(s, d), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding")))

  private val duckNormed =
    """SELECT vec_id, label, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v,
         SQRT(LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (a, b) -> a + b)) AS norm
       FROM embeddings"""

  private def cosineCol: Column =
    aggregate(zip_with(col("qv"), col("v"), (x, y) => x * y), lit(0.0), (a, x) => a + x) /
      (col("qnorm") * col("norm"))

  private val duckCosine =
    """LIST_REDUCE(LIST_TRANSFORM(RANGE(64), i -> q.v[i + 1] * c.v[i + 1]), (a, b) -> a + b)
       / (q.norm * c.norm)"""

  // ---- the scoring core ------------------------------------------------

  /** The fixed graded query set: every graded query and eval asks for
    * the neighbors of vec_id 0..19. */
  private val gradedId: Column = col("vec_id") < 20

  private def graded(e: DataFrame): DataFrame = e.filter(gradedId)

  /** Cosine of every (query, corpus) pair sharing `keys` — `keys = Nil`
    * is brute force. Both frames are normed (vec_id, v, norm, keys…).
    * The query side is broadcast (the graded set or a caller's query
    * frame, never the corpus) and the vectors ride through the join,
    * so each pair is scored where it forms. `excludeSelf` assumes one
    * id namespace: a query never returns its own id. */
  private def scored(corpus: DataFrame, queries: DataFrame, keys: Seq[String],
                     excludeSelf: Boolean = true, cosine: Column = cosineCol): DataFrame = {
    val q = queries.select(keys.map(col) ++ Seq(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm")): _*)
    corpus.select(keys.map(col) ++ Seq(col("vec_id"), col("v"), col("norm")): _*)
      .join(broadcast(q), keys)
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", cosine)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Cosine of id-only candidate pairs (query_id, neighbor_id, …) over
    * the normed frame `e`: graded query vectors are broadcast, neighbor
    * vectors join back once. Candidates carry ids only until here — no
    * vector rides a candidate shuffle (the MinHash candidate-join
    * discipline). Every pair column is kept. */
  private def scoredPairs(pairs: DataFrame, e: DataFrame): DataFrame =
    pairs.join(broadcast(graded(e).select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qnorm"))), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosineCol)
      .select(pairs.columns.map(col) :+ col("cosine"): _*)

  /** Per-(by…, query_id) top-k under the one total order every ranking
    * here uses: cosine descending, then neighbor_id ascending. The
    * tie-break makes a ranking a function of the candidate set alone,
    * so [[duckRanked]] and the fused recall eval rank identically. */
  private def topK(scored: DataFrame, k: Int, by: String*): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy((by :+ "query_id").map(col): _*)
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)

  /** The graded top-k shape: (query_id, rank, neighbor_id, cosine). */
  private def ranked(scored: DataFrame, k: Int): DataFrame =
    topK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))

  /** Oracle twin of [[ranked]] over CTE `p(query_id, neighbor_id,
    * cosine)`; closes the statement. */
  private def duckRanked(k: Int): String =
    s"""r AS (SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
             FROM p)
       SELECT query_id, rank, neighbor_id, cosine FROM r
       WHERE rank <= $k ORDER BY query_id, rank"""

  /** Oracle twin of [[scoredPairs]]: CTE `p` scores the id pairs of
    * CTE `cand` against `n` ([[duckNormed]]). */
  private def duckScoredPairs(cand: String): String =
    s"""p AS (SELECT $cand.query_id, $cand.neighbor_id, $duckCosine AS cosine
             FROM $cand JOIN n q ON q.vec_id = $cand.query_id
                        JOIN n c ON c.vec_id = $cand.neighbor_id)"""

  /** Oracle twin of the same-key candidate join: graded queries × the
    * rows of `rel` sharing `key`, self excluded. */
  private def duckKeyPairs(rel: String, key: String): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
       FROM $rel q JOIN $rel c ON q.$key = c.$key AND q.vec_id < 20 AND c.vec_id <> q.vec_id"""

  // ---- exact top-k -----------------------------------------------------

  /** One oracle for BOTH exact top-k forms: the HOF baseline and the
    * native kernel compute bit-identical cosines (see the object doc);
    * verified by int64-view equality of the doubles at sf0.01. */
  private val knnTopkSql =
    s"""WITH n AS ($duckNormed),
       p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $duckCosine AS cosine
             FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       ${duckRanked(5)}"""

  /** Brute-force cosine top-k for the graded query set (k = 5): the
    * exact baseline every ANN variant is judged against. */
  val qKnnBruteforce = Q(
    (s, d) => {
      val e = normed(s, d)
      ranked(scored(e, graded(e), Nil), 5)
    },
    knnTopkSql)

  /** The same brute-force top-k through the public [[knnTopK]], on the
    * native kernel over the raw float arrays — the throughput form.
    * Hash-green against [[knnTopkSql]]; DotProductSpec and the
    * ranking-agreement specs pin kernel agreement at sf0.1. */
  val qKnnNative = Q(
    (s, d) => {
      val e = graft.Par.fanOut(Tables.embeddings(s, d), "vec_id")
        .select(col("vec_id"), col("embedding"))
      knnTopK(e, graded(e))
    },
    knnTopkSql)

  /** PUBLIC composable exact top-k (exported via [[graft.Graft]]):
    * cosine of every (query, corpus) pair on the native codegen'd
    * float kernel, per-query top-k under [[topK]]'s order. Both frames
    * are (vec_id, embedding float[]). `excludeSelf` (default true)
    * drops a query's own id; pass false when the query frame's ids are
    * an independent namespace, else a legitimate same-id neighbor is
    * silently dropped. The query side is broadcast — for corpus-sized
    * query sets use [[annTopK]] or [[embedScreen]]. */
  def knnTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              excludeSelf: Boolean = true): DataFrame = {
    def normF(e: DataFrame) = e
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(DotProductExpr.dotF(col("v"), col("v"))))
    ranked(scored(normF(corpus), normF(queries), Nil, excludeSelf,
      DotProductExpr.dotF(col("qv"), col("v")) / (col("qnorm") * col("norm"))), k)
  }

  /** Exact cosine top-k (query_id, neighbor_id) pairs for the graded
    * query set over a NORMED frame — the recall ground truth the spec
    * evals score against. */
  private[graft] def exactTopPairsOf(e: DataFrame, k: Int): DataFrame =
    topK(scored(e, graded(e), Nil), k).select(col("query_id"), col("neighbor_id"))

  // ---- LSH buckets -----------------------------------------------------

  /** 8-bit random-hyperplane signature from portable arithmetic:
    * hyperplane j component i is ±1 by `(i*2654435761 + j*40503) % 97
    * < 48`. Same formula in the oracle → identical buckets. Computed as
    * 8 codegen'd sum-aggregates over the posexploded vector (~5× faster
    * than nested interpreted lambdas; partial aggregation compresses
    * before any shuffle), summed in DECIMAL(18,12) so the aggregation
    * order can never flip a sign bit between engines. */
  private[graft] def withBucket(e: DataFrame): DataFrame = withBucketT(e, 0)

  /** Table-`t` signature: the plane pattern shifted by `t * 7919`
    * (≡ 62 mod 97, a genuinely different ±1 pattern, not a rotation of
    * table 0's); t = 0 is [[withBucket]]. */
  private[graft] def withBucketT(e: DataFrame, t: Int): DataFrame = {
    val exploded = e.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val xd = col("x").cast("decimal(18,12)")
    val dotCols = (0 until 8).map { j =>
      sum(when(pmod(col("i") * lit(2654435761L) + lit(j * 40503) + lit(t * 7919),
        lit(97)) < 48, xd)
        .otherwise(-xd)).as(s"dot$j")
    }
    val buckets = exploded.groupBy(col("vec_id"))
      .agg(dotCols.head, dotCols.tail: _*)
      .withColumn("bucket",
        (0 until 8).map(j => when(col(s"dot$j") > 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _))
      .select(col("vec_id"), col("bucket"))
    e.join(buckets, Seq("vec_id"))
  }

  private def duckBucketsT(t: Int) =
    s"""SELECT vec_id,
         LIST_REDUCE(LIST_TRANSFORM(RANGE(8), j ->
           CASE WHEN LIST_REDUCE(LIST_TRANSFORM(RANGE(64), i ->
                  CASE WHEN (i * 2654435761 + j * 40503 + ${t * 7919}) % 97 < 48
                       THEN CAST(v[i + 1] AS DECIMAL(18,12))
                       ELSE -CAST(v[i + 1] AS DECIMAL(18,12)) END),
                (a, b) -> a + b) > 0
           THEN (1 << j) ELSE 0 END),
         (a, b) -> a + b) AS bucket
       FROM n"""

  private val duckBuckets = duckBucketsT(0)

  /** Bucketed corpus, shared per (session, dir): the signature pass
    * is read by every LSH query, q_ann_recall, q_ann_cost,
    * q_embed_neardup and q_embed_incremental, so one session computes
    * it once. */
  private def bucketed(s: SparkSession, d: String): DataFrame =
    SessionMemo.shared(s, s"vec_buckets:$d")(withBucket(normed(s, d)))

  /** Second-table bucket index ([[withBucketT]] t = 1), its own
    * shared stage, read by q_ann_lsh_multi: at scale each LSH table
    * is its own index. */
  private def bucketedT1(s: SparkSession, d: String): DataFrame =
    SessionMemo.shared(s, s"vec_buckets:$d:t1")(withBucketT(normed(s, d), 1))

  /** A caller corpus's bucket index under memo key `prefix`: one
    * shared index per distinct corpus plan per session, read by the
    * [[annTopK]] and [[embedScreen]] facade forms, so they run inside
    * foreachBatch without re-bucketing it. */
  private def bucketIndex(prefix: String, corpus: DataFrame): DataFrame =
    SessionMemo.shared(corpus.sparkSession,
      s"$prefix:${SessionMemo.planKey(corpus)}")(withBucket(normedOf(corpus)))

  /** Within-bucket candidate id pairs for the graded query set from a
    * BUCKETED frame — the single-table LSH candidate set. */
  private[graft] def bucketPairsOf(e: DataFrame): DataFrame =
    scored(e, graded(e), Seq("bucket")).select(col("query_id"), col("neighbor_id"))

  /** Spec-only hook (the [[graft.ops.TextOps.bandCandidateCount]]
    * convention): within-bucket candidate id pairs for the graded
    * query set from any (vec_id, embedding) frame, through the same
    * signature pipeline the graded LSH queries use — so the
    * second-decade candidate-volume spec measures the exact graded
    * join. */
  private[graft] def lshBucketCandidatesOf(e: DataFrame): DataFrame =
    bucketPairsOf(withBucket(normedOf(e)))

  /** The two-table candidate union: within-bucket pairs of either
    * table, distinct. */
  private def lshMultiPairs(s: SparkSession, d: String): DataFrame =
    bucketPairsOf(bucketed(s, d)).unionByName(bucketPairsOf(bucketedT1(s, d))).distinct()

  private val duckLshMultiCand =
    s"""${duckKeyPairs("b0", "bucket")}
       UNION
       ${duckKeyPairs("b1", "bucket")}"""

  /** PUBLIC composable LSH-bucketed ANN top-k (exported via
    * [[graft.Graft]]): the scale path — queries score only corpus
    * vectors sharing their hyperplane bucket, O(|Q| × bucket) instead
    * of |Q| × N. The corpus index is [[bucketIndex]]; the query side
    * buckets per call. Approximate: measure recall with the
    * q_ann_recall / q_ann_cost evals on a sampled query set before
    * trusting it (466‰ recall@3 at 37‰ cost on planted clusters,
    * docs/SCALE.md). `excludeSelf` is [[knnTopK]]'s. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
              excludeSelf: Boolean = true): DataFrame =
    ranked(scored(bucketIndex("ann_topk_index", corpus), withBucket(normedOf(queries)),
      Seq("bucket"), excludeSelf), k)

  /** ANN top-3 via LSH buckets: score only within-bucket candidates.
    * Approximate by design — but deterministically so, and the oracle
    * runs the same bucketed algorithm, so results still hash-match. */
  val qAnnLsh = Q(
    (s, d) => {
      val e = bucketed(s, d)
      ranked(scored(e, graded(e), Seq("bucket")), 3)
    },
    s"""WITH n AS ($duckNormed),
       b0 AS ($duckBuckets),
       cand AS (${duckKeyPairs("b0", "bucket")}),
       ${duckScoredPairs("cand")},
       ${duckRanked(3)}""")

  /** Multi-table LSH ANN — the recall dial every production LSH
    * deployment turns: candidates = the UNION of within-bucket matches
    * across L = 2 tables, exact cosine over the distinct set, top-3.
    * Independent tables would lift recall to 1-(1-p)^L; measured
    * (see [[qAnnCost]]) 2 tables fall short of doubling it — the
    * tables share one plane family, so they correlate. Both tables are
    * memoized shared stages; at scale each is a separately-appended
    * index. */
  val qAnnLshMulti = Q(
    (s, d) => ranked(scoredPairs(lshMultiPairs(s, d), bucketed(s, d)), 3),
    s"""WITH n AS ($duckNormed),
       b0 AS ($duckBuckets),
       b1 AS (${duckBucketsT(1)}),
       cand AS ($duckLshMultiCand),
       ${duckScoredPairs("cand")},
       ${duckRanked(3)}""")

  /** Embedding-cosine near-dup pairs, LSH-bucketed: candidate pairs
    * share a bucket; exact cosine confirms ≥ threshold. O(N × bucket)
    * instead of O(N²) — the embedding analog of MinHash dedup. The
    * corpus has no true near-dups (max pairwise cosine ≈ 0.51), so the
    * threshold is set at 0.4 — what is graded is the bucketed-pair
    * algorithm, identically computed by the oracle. */
  val qEmbedNeardup = Q(
    (s, d) => {
      val e = bucketed(s, d)
      val a = e.select(col("bucket"), col("vec_id").as("vec_a"),
        col("v").as("qv"), col("norm").as("qnorm"))
      val b = e.select(col("bucket"), col("vec_id").as("vec_b"),
        col("v").as("v"), col("norm").as("norm"))
      a.join(b, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cosine", cosineCol)
        .filter(col("cosine") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("cosine"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
    s"""WITH n AS ($duckNormed),
       b AS (SELECT n.vec_id, n.v, n.norm, bk.bucket FROM n JOIN ($duckBuckets) bk USING (vec_id))
       SELECT q.vec_id AS vec_a, c.vec_id AS vec_b, $duckCosine AS cosine
       FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
       WHERE $duckCosine >= 0.4
       ORDER BY vec_a, vec_b""")

  /** Screens bucketed `batch` rows against a bucketed `corpus`:
    * candidates come strictly batch×corpus from the bucket equi-join,
    * exact cosine confirms at `threshold`, and each matched batch
    * vector gets one decision row (match count, first corpus match,
    * best cosine) — the decision shape the text screen emits. Neither
    * side is hinted: the planner sizes the join. */
  private def screen(corpus: DataFrame, batch: DataFrame, threshold: Double): DataFrame =
    batch.select(col("bucket"), col("vec_id"), col("v").as("qv"), col("norm").as("qnorm"))
      .join(corpus.select(col("bucket"), col("vec_id").as("corpus_id"), col("v"),
        col("norm")), Seq("bucket"))
      .withColumn("cosine", cosineCol)
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("corpus_id")).as("first_match"),
        max(col("cosine")).as("best_cosine"))
      .orderBy(col("vec_id"))

  /** Incremental embedding screen — the vector-side mirror of
    * [[graft.ops.TextOps.nearDupScreen]]: [[screen]] a BATCH of new
    * embeddings (odd vec_ids) against the EXISTING bucketed corpus
    * (even vec_ids), O(batch × bucket occupancy) per ingest. Threshold
    * 0.35 is MEASURED: bucketed odd-even cosines top out ≈0.42, and
    * 0.35 keeps 10-12 batch vectors matched at every SF while still
    * cutting 99%+ of candidates. At 100 TB the corpus bucket frame is
    * the appendable index, like the band index. */
  val qEmbedIncremental = Q(
    (s, d) => {
      val e = bucketed(s, d)
      screen(e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1), 0.35)
    },
    s"""WITH n AS ($duckNormed),
       b AS (SELECT n.vec_id, n.v, n.norm, bk.bucket FROM n JOIN ($duckBuckets) bk USING (vec_id)),
       p AS (SELECT q.vec_id, c.vec_id AS corpus_id, $duckCosine AS cosine
             FROM b q JOIN b c ON q.bucket = c.bucket
               AND q.vec_id % 2 = 1 AND c.vec_id % 2 = 0)
       SELECT vec_id, COUNT(*) AS n_matches, MIN(corpus_id) AS first_match,
         MAX(cosine) AS best_cosine
       FROM p WHERE cosine >= 0.35
       GROUP BY vec_id ORDER BY vec_id""")

  /** PUBLIC composable embedding screen (exported via [[graft.Graft]]):
    * the generic two-frame form of [[qEmbedIncremental]] — screen any
    * batch of (vec_id, embedding) rows against any corpus frame. The
    * corpus bucket index is memoized ([[bucketIndex]], the
    * foreachBatch-safe lifecycle the text screen uses); the batch side
    * is bucketed per call, O(batch). */
  def embedScreen(corpus: DataFrame, batch: DataFrame,
                  threshold: Double = 0.35): DataFrame =
    screen(bucketIndex("embed_screen_index", corpus), withBucket(normedOf(batch)), threshold)

  // ---- IVF -------------------------------------------------------------

  /** The full IVF training CTE chain (seed → 2 Lloyd passes → final
    * assignment `asg(vec_id, cell)`, one row per vector), factored so
    * the base probe, the nprobe probe and the candidate-cost eval
    * compose the identical training text verbatim. Expects a CTE `n`
    * ([[duckNormed]]) in scope. */
  private lazy val duckIvfTrain: String =
    s"""cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM n
         WHERE vec_id % (SELECT CAST(FLOOR(SQRT(COUNT(*) * 2)) AS BIGINT) FROM n) = 0),
       ${duckAssign("asg0", "cents0")},
       ${duckLloyd("cents1", "asg0")},
       ${duckAssign("asg1", "cents1")},
       ${duckLloyd("cents2", "asg1")},
       ${duckAssign("asg", "cents2")}"""

  /** Oracle twin of the Spark argmin assignment: nearest-centroid
    * cell per vector from centroid CTE `cents`, ties broken by
    * cent_id — identical (dist, cent_id) ordering on both engines. */
  private def duckAssign(name: String, cents: String): String =
    s"""$name AS (SELECT vec_id, cell FROM (
         SELECT n.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             LIST_REDUCE(LIST_TRANSFORM(RANGE(64),
               i -> (n.v[i + 1] - c.cv[i + 1]) * (n.v[i + 1] - c.cv[i + 1])),
               (a, b) -> a + b) ASC, c.cent_id ASC) AS rn
         FROM n, $cents c) t WHERE rn = 1)"""

  /** Oracle twin of one Spark Lloyd step: per-(cell, dim) decimal
    * mean over assignment CTE `asg`, reassembled dim-ordered. */
  private def duckLloyd(name: String, asg: String): String =
    s"""$name AS (
         SELECT cell AS cent_id, LIST(mv ORDER BY pos) AS cv FROM (
           SELECT cell, u.pos AS pos,
             CAST(SUM(CAST(u.x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mv
           FROM (SELECT a.cell,
                   UNNEST(LIST_TRANSFORM(RANGE(64), i -> {'pos': i, 'x': n.v[i + 1]})) AS u
                 FROM n JOIN $asg a USING (vec_id))
           GROUP BY cell, u.pos)
         GROUP BY cell)"""

  /** IVF-style ANN: a coarse quantizer partitions vectors into cells;
    * a query scores only the vectors in its nearest `nprobe` cells.
    * The centroids are TRAINED — a deterministic seed sample refined by
    * two Lloyd iterations, each one assignment pass plus a per-(cell,
    * dim) mean accumulated in DECIMAL(18,6) and divided once in DOUBLE
    * (the q_embed_centroids recipe), so both engines derive
    * bit-identical centroids. At scale each iteration is a partial-agg
    * shuffle on (cell, dim) — centroid count × dims rows, never
    * data-sized.
    *
    * This assigns every `side` row to its nearest centroid: argmin via
    * struct ordering, min (dist, cent_id), on the native L2 kernel —
    * the same left-to-right IEEE fold as the oracle's LIST_REDUCE. */
  private def ivfAssigned(cents: DataFrame, side: DataFrame, idc: String,
                          vc: String, nc: String): DataFrame =
    side.crossJoin(broadcast(cents))
      .withColumn("dist", L2DistExpr.l2Dist(col(vc), col("cv")))
      .groupBy(col(idc))
      .agg(min(struct(col("dist"), col("cent_id"))).as("m"))
      .select(col(idc), col("m.cent_id").as(s"cell_$nc"))

  // one Lloyd step over corpus `e`: assign, then per-(cell, dim)
  // decimal mean, reassembled into centroid arrays ordered by dim
  private def ivfLloyd(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(ivfAssigned(cents, e, "vec_id", "v", "it"), Seq("vec_id"))
      .select(col("cell_it").as("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cent_id"), col("pos"))
      .agg((sum(col("x").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("mv"))
      .groupBy(col("cent_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)")
        .as("cv"))

  /** Frame-generic IVF training: seed k ≈ √(N/2) cells — every
    * `stride`-th vector, `stride = floor(sqrt(2·N))` computed IN-PLAN
    * (a 1-row agg broadcast into the seed filter, no driver collect) —
    * refined by two Lloyd passes. Data-driven, so nprobe > 1 never
    * degenerates to exhaustive search on a small corpus; the √(N/2)
    * coefficient is the measured high-recall frontier of the
    * graft.tools.AnnDial grid (docs/SCALE.md). Deterministic on both
    * engines: 2·COUNT(*) is exact in double, sqrt is correctly rounded,
    * floor is exact, and the oracle computes the same scalar. */
  private[graft] def ivfCentsOf(e: DataFrame,
                                strideOverride: Option[Long] = None): DataFrame = {
    val stride = strideOverride match {
      case Some(s) => e.limit(1).select(lit(s).as("stride")) // dial experiments only
      case None =>
        e.agg(floor(sqrt(count(lit(1)) * 2)).cast("long").as("stride"))
    }
    val seed = e.crossJoin(broadcast(stride))
      .filter(pmod(col("vec_id"), col("stride")) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    ivfLloyd(e, ivfLloyd(e, seed))
  }

  /** Trained coarse centroids (cent_id, cv double[64]) for the graded
    * corpus, in their own memo entry: the nprobe dial ranks a query's
    * nearest cells against them. */
  private def ivfCents(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrElseUpdate(s, s"ivf_cents:$d") {
      // pinned (the SessionMemo pin rule): Lloyd-iteration cascade, and the index build derives from it
      SessionMemo.pinned(ivfCentsOf(normed(s, d)))
    }

  /** The assigned corpus index (vec_id, label, v, norm, cell_data), a
    * SessionMemo shared stage: an IVF index is built once and probed
    * many times, so training runs once per (session, dataset) and the
    * steady state measures the probe join only. */
  private def ivfIndexed(s: SparkSession, d: String): DataFrame =
    SessionMemo.getOrElseUpdate(s, s"ivf_index:$d") {
      // pinned (the SessionMemo pin rule): assigned over the training cascade, and the probe cells derive from it
      SessionMemo.pinned(ivfIndexedOf(normed(s, d), ivfCents(s, d)))
    }

  /** Frame-generic index assembly: assign every normed row to its
    * nearest trained centroid — the body the memoized graded index
    * shares with the clustered-corpus spec. */
  private[graft] def ivfIndexedOf(e: DataFrame, cents: DataFrame): DataFrame =
    e.join(ivfAssigned(cents, e, "vec_id", "v", "data"), Seq("vec_id"))

  /** Same-cell candidate id pairs for the graded query set from a
    * trained IVF index (the nprobe=1 candidate set). */
  private[graft] def cellPairsOf(indexed: DataFrame): DataFrame =
    scored(indexed, graded(indexed), Seq("cell_data")).select(col("query_id"), col("neighbor_id"))

  /** IVF ANN top-3 at nprobe = 1: exact cosine over the members of each
    * query's own trained cell. */
  val qAnnIvf = Q(
    (s, d) => {
      val indexed = ivfIndexed(s, d)
      ranked(scored(indexed, graded(indexed), Seq("cell_data")), 3)
    },
    s"""WITH n AS ($duckNormed),
       $duckIvfTrain,
       cand AS (${duckKeyPairs("asg", "cell")}),
       ${duckScoredPairs("cand")},
       ${duckRanked(3)}""")

  /** Query-directed multi-probe candidate pairs (Lv et al., VLDB'07,
    * adapted to sign-random-projection LSH): beyond its own bucket, a
    * query probes the buckets reached by flipping its LEAST-CONFIDENT
    * signature bits — every subset of the 5 planes with the smallest
    * |margin|, 32 buckets per query (measured at sf0.1: blind
    * Hamming-≤1's 9 probes reach 316‰ recall@3 at 10.5% of corpus
    * scanned; these 32 reach 500‰ at 21.7%). Oracle-expressible:
    * margins are exact DECIMAL sums, ties broken by plane index, and
    * the probe bucket is an integer XOR. Id-only output; no distinct
    * needed — probe buckets are pairwise distinct and each vector lives
    * in one bucket. The probe frame is |Q|×32 rows (broadcast); no new
    * index is built. */
  private def lshProbeCands(s: SparkSession, d: String): DataFrame =
    lshProbeCandsOf(bucketed(s, d))

  /** Frame-generic body of [[lshProbeCands]] over a BUCKETED frame
    * (vec_id, v, norm, bucket), so the clustered-corpus recall spec
    * measures the exact graded directed-probe machinery. */
  private[graft] def lshProbeCandsOf(e: DataFrame): DataFrame = {
    val terms = graded(e)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"), col("x"),
        explode(expr("sequence(0, 7)")).as("j"))
    val xd = col("x").cast("decimal(18,12)")
    // per-(query, plane) signed margin — the same portable ±1 pattern
    // as withBucketT(t = 0), in long form instead of 8 pivoted aggs
    val dots = terms.groupBy(col("vec_id"), col("j"))
      .agg(sum(when(pmod(col("i") * lit(2654435761L) + col("j") * lit(40503),
        lit(97)) < 48, xd).otherwise(-xd)).as("dot"))
    val wAbs = Window.partitionBy(col("vec_id"))
      .orderBy(abs(col("dot")).asc, col("j").asc)
    val flips = dots.withColumn("r", row_number().over(wAbs) - 1)
      .filter(col("r") < 5)
    val masks = flips
      .select(col("vec_id"), col("j"), col("r"),
        explode(expr("sequence(0, 31)")).as("sub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(sum(expr(
        "CASE WHEN (shiftright(sub, r) & 1) = 1 THEN shiftleft(1, j) ELSE 0 END"))
        .as("flip"))
    val probes = masks
      .join(e.select(col("vec_id"), col("bucket")), Seq("vec_id"))
      .select(col("vec_id").as("query_id"),
        expr("CAST(bucket ^ flip AS INT)").as("pbucket"))
    e.select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(broadcast(probes), col("bucket") === col("pbucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Oracle twin of [[lshProbeCands]] — emits CTE `candp(query_id,
    * neighbor_id)`; expects `n` ([[duckNormed]]) and `b0` (table-0
    * buckets) in scope. */
  private lazy val duckLshProbeCand: String =
    s"""qd AS (SELECT vec_id, j,
         LIST_REDUCE(LIST_TRANSFORM(RANGE(64), i ->
           CASE WHEN (i * 2654435761 + j * 40503) % 97 < 48
                THEN CAST(v[i + 1] AS DECIMAL(18,12))
                ELSE -CAST(v[i + 1] AS DECIMAL(18,12)) END),
           (a, b) -> a + b) AS dot
         FROM n, (SELECT UNNEST(RANGE(8)) AS j) WHERE vec_id < 20),
       fl AS (SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY ABS(dot) ASC, j ASC) - 1 AS r
         FROM qd),
       masks AS (SELECT f.vec_id, t.sub,
           CAST(SUM(CASE WHEN (t.sub >> f.r) & 1 = 1
                         THEN (1 << f.j) ELSE 0 END) AS BIGINT) AS flip
         FROM (SELECT * FROM fl WHERE r < 5) f,
              (SELECT UNNEST(RANGE(32)) AS sub) t
         GROUP BY f.vec_id, t.sub),
       probes AS (SELECT m.vec_id AS query_id,
           CAST(xor(b.bucket, m.flip) AS INTEGER) AS pbucket
         FROM masks m JOIN b0 b ON b.vec_id = m.vec_id),
       candp AS (SELECT p.query_id, c.vec_id AS neighbor_id
         FROM probes p JOIN b0 c
           ON c.bucket = p.pbucket AND c.vec_id <> p.query_id)"""

  /** Multi-probe LSH ANN top-3: exact cosine over [[lshProbeCands]].
    * Its measured recall (see [[qAnnCost]]) is the ceiling of an 8-bit
    * signature on THIS corpus, whose exact top-3 neighbors sit at
    * 60-72° — far outside the small-angle regime sign-LSH is built
    * for; the trained-quantizer dial (q_ann_ivf_probe) clears 700‰. */
  val qAnnLshProbe = Q(
    (s, d) => ranked(scoredPairs(lshProbeCands(s, d), bucketed(s, d)), 3),
    s"""WITH n AS ($duckNormed),
       b0 AS ($duckBuckets),
       $duckLshProbeCand,
       ${duckScoredPairs("candp")},
       ${duckRanked(3)}""")

  /** The graded probe width: a query scores the members of its
    * `ivfNprobe` nearest trained cells. One named constant so the
    * Spark plan and the oracle twin can never disagree on the dial.
    * 8 is the measured sf0.1 operating point (AnnDial grid,
    * docs/SCALE.md): 766‰ recall@3 at 249‰ candidate cost; nprobe=12
    * buys 900‰ at 376‰. */
  private[graft] val ivfNprobe = 8

  /** IVF nprobe candidate pairs: a query scores the members of its
    * [[ivfNprobe]] nearest trained cells (rank by exact L2 to the
    * trained centroids, ties by cent_id — identical ordering both
    * engines), not just its own. Id-only output; reuses the memoized
    * trained index verbatim. No distinct needed: each corpus vector
    * lives in exactly one cell and the probed cells are distinct. */
  private def ivfProbeCands(s: SparkSession, d: String): DataFrame =
    ivfProbeCandsOf(ivfIndexed(s, d), ivfCents(s, d), ivfNprobe)

  /** Frame-generic body of [[ivfProbeCands]] over a trained index
    * (vec_id, v, norm, cell_data) + its centroid table, so the
    * clustered-corpus recall spec measures the exact graded probe join
    * at any nprobe. */
  private[graft] def ivfProbeCandsOf(indexed: DataFrame, cents: DataFrame,
                                     nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("cent_id").asc)
    val qcells = graded(indexed)
      .select(col("vec_id").as("query_id"), col("v"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", L2DistExpr.l2Dist(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    indexed.select(col("vec_id").as("neighbor_id"),
        col("cell_data").as("cell"))
      .join(broadcast(qcells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Oracle twin of [[ivfProbeCands]] — emits CTE `candi(query_id,
    * neighbor_id)`; expects `n` and the [[duckIvfTrain]] chain. */
  private lazy val duckIvfProbeCand: String =
    s"""qasg AS (SELECT vec_id, cell FROM (
         SELECT n.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             LIST_REDUCE(LIST_TRANSFORM(RANGE(64),
               i -> (n.v[i + 1] - c.cv[i + 1]) * (n.v[i + 1] - c.cv[i + 1])),
               (a, b) -> a + b) ASC, c.cent_id ASC) AS rn
         FROM n, cents2 c WHERE n.vec_id < 20) t WHERE rn <= $ivfNprobe),
       candi AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id
         FROM qasg q JOIN asg b ON b.cell = q.cell AND b.vec_id <> q.vec_id)"""

  /** IVF ANN at the graded [[ivfNprobe]]: exact cosine over the
    * members of each query's nearest trained cells. At sf0.01 (17
    * cells) it measures 816‰ at 481‰; on planted clusters the same
    * machinery measures 983‰ at 306‰ (ScaleSmokeSpec clustered eval) —
    * the sf0.1 numbers are the price of a near-uniform corpus. The
    * probe adds one broadcast top-nprobe-cells ranking over |Q|×cells
    * rows and one cell equi-join; the index stays fixed. */
  val qAnnIvfProbe = Q(
    (s, d) => ranked(scoredPairs(ivfProbeCands(s, d), ivfIndexed(s, d)), 3),
    s"""WITH n AS ($duckNormed),
       $duckIvfTrain,
       $duckIvfProbeCand,
       ${duckScoredPairs("candi")},
       ${duckRanked(3)}""")

  // ---- evals -----------------------------------------------------------

  /** The five approximate methods' candidate pairs, tagged
    * (method, query_id, neighbor_id) — one row per pair by
    * construction. q_ann_cost counts them; q_ann_recall scores them. */
  private def methodPairs(s: SparkSession, d: String): DataFrame = Seq(
      "lsh" -> bucketPairsOf(bucketed(s, d)),
      "lsh_multi" -> lshMultiPairs(s, d),
      "lsh_probe" -> lshProbeCands(s, d),
      "ivf" -> cellPairsOf(ivfIndexed(s, d)),
      "ivf_probe" -> ivfProbeCands(s, d))
    .map { case (m, p) => p.select(lit(m).as("method"), col("query_id"), col("neighbor_id")) }
    .reduce(_ unionByName _)

  /** Candidate-cost eval — the other axis of the recall/cost
    * trade-off q_ann_recall measures: per method, the number of
    * [[methodPairs]] candidates its scoring stage pays for, as integer
    * permille of the brute-force pair count |Q| × (N−1) (the `brute`
    * row = 1000‰). Read WITH q_ann_recall, at sf0.1: lsh 133‰ recall
    * @ 27‰ cost, lsh_multi 200‰ @ 46‰, lsh_probe 500‰ @ 216‰, ivf 266‰
    * @ 30‰, ivf_probe 766‰ @ 249‰ (clustered-corpus twin table:
    * ScaleSmokeSpec + docs/SCALE.md). Every count is a
    * partial-aggregated id-pair join, nothing corpus×corpus. */
  lazy val qAnnCost = Q(
    (s, d) => {
      // broadcast-scalar crossJoin: the brute reference is a 1-row agg
      val brute = bucketed(s, d).agg(
        (sum(when(gradedId, 1L).otherwise(0L)) * (count(lit(1)) - 1)).as("n_brute"))
      methodPairs(s, d).groupBy(col("method")).agg(count(lit(1)).as("n_candidates"))
        .unionByName(brute.select(lit("brute").as("method"),
          col("n_brute").as("n_candidates")))
        .crossJoin(broadcast(brute))
        .select(col("method"), col("n_candidates"),
          expr("n_candidates * 1000 DIV n_brute").as("cost_permille"))
        .orderBy(col("method"))
    },
    Some(s"""WITH n AS ($duckNormed),
       b0 AS ($duckBuckets),
       b1 AS (${duckBucketsT(1)}),
       $duckIvfTrain,
       $duckLshProbeCand,
       $duckIvfProbeCand,
       cl AS (${duckKeyPairs("b0", "bucket")}),
       cm AS ($duckLshMultiCand),
       ci AS (${duckKeyPairs("asg", "cell")}),
       st AS (SELECT (SELECT COUNT(*) FROM n WHERE vec_id < 20)
                   * ((SELECT COUNT(*) FROM n) - 1) AS n_brute),
       u AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM cl
             UNION ALL SELECT 'lsh_multi', query_id, neighbor_id FROM cm
             UNION ALL SELECT 'lsh_probe', query_id, neighbor_id FROM candp
             UNION ALL SELECT 'ivf', query_id, neighbor_id FROM ci
             UNION ALL SELECT 'ivf_probe', query_id, neighbor_id FROM candi),
       counted AS (SELECT method, COUNT(*) AS n_candidates FROM u GROUP BY method
                   UNION ALL SELECT 'brute', n_brute FROM st)
       SELECT method, n_candidates,
         n_candidates * 1000 // st.n_brute AS cost_permille
       FROM counted, st ORDER BY method"""))

  /** Per-label centroid components (first 8 dims): posexplode →
    * two-phase decimal mean per (label, dim). The 100 TB shape for
    * "average a vector column": explode to (key, pos, val) and let
    * partial aggregation compress before the shuffle. */
  val qEmbedCentroids = Q(
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(
          (sum(col("val").cast("double").cast("decimal(18,6)")).cast("double")
            / count(lit(1))).as("mean_val"),
          count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos")),
    """SELECT label, CAST(u.pos AS INT) AS pos,
       CAST(SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_val,
       COUNT(*) AS n
       FROM (SELECT label,
               UNNEST(LIST_TRANSFORM(RANGE(8), i -> {'pos': i, 'val': embedding[i + 1]})) AS u
             FROM embeddings) t
       GROUP BY label, u.pos ORDER BY label, pos""")

  /** PUBLIC composable int8 scalar quantization (exported via
    * [[graft.Graft]]) of any (vec_id, embedding float[]) frame — the
    * standard 4× shrink before an ANN index or a network ship: per
    * vector, `scale = 127 / max|x|`, each element rounds to
    * `floor(x·scale + 0.5) ∈ [-127, 127]`, emitted fully exploded to
    * (vec_id, pos, qval, scale) so the oracle checks every element.
    * max|x| is order-independent and exact, the scale is ONE IEEE
    * division and the round a floor, so even the float path is
    * hash-comparable. A pure map stage, no shuffle. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale",
        when(col("amax") > 0.0, lit(127.0) / col("amax")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        floor(col("x") * col("scale") + lit(0.5)).cast("int").as("qval"),
        col("scale"))

  val qEmbedQuantize = Q(
    (s, d) =>
      quantizeInt8(Tables.embeddings(s, d))
        .orderBy(col("vec_id"), col("pos")),
    """SELECT vec_id, i AS pos,
         CAST(FLOOR(v[i + 1] * scale + 0.5) AS INTEGER) AS qval, scale
       FROM (SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                    ELSE 0.0 END AS scale
             FROM (SELECT vec_id,
                     LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)),
            (SELECT UNNEST(RANGE(64)) AS i)
       ORDER BY vec_id, pos""")

  /** ANN recall evaluation — the index-quality measurement a real
    * pipeline runs BEFORE trusting an approximate index: recall@3 of
    * the five approximate methods against the exact top-3, per query
    * and method, as integer permille (n_hits·1000 DIV 3). A sparse
    * bucket or cell still scores against k = 3: it IS a recall loss.
    *
    * One scoring pass serves all five methods: [[methodPairs]] through
    * one [[scoredPairs]] and one [[topK]] window per (method,
    * query_id). Each method's ranking equals its standalone query's —
    * same candidates, same cosine fold, same total order (NorthStarSpec
    * checks the hit counts) — at one broadcast, one vectors join and
    * one window instead of five. The oracle composes the five methods'
    * oracle texts verbatim. The intersection join is on id pairs,
    * output-sized, never corpus-sized.
    *
    * Declared lazy AFTER its constituents: the oracle text is
    * assembled eagerly from theirs. */
  lazy val qAnnRecall = Q(
    (s, d) => {
      val exact3 = qKnnBruteforce.fn(s, d).filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val hits = topK(scoredPairs(methodPairs(s, d), bucketed(s, d)), 3, "method")
        .select(col("query_id"), col("neighbor_id"), col("method"))
        .join(exact3, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"), col("method"))
        .agg(count(lit(1)).as("n_hits"))
      exact3.select(col("query_id")).distinct()
        .select(col("query_id"),
          explode(array(lit("ivf"), lit("ivf_probe"), lit("lsh"),
            lit("lsh_multi"), lit("lsh_probe"))).as("method"))
        .join(hits, Seq("query_id", "method"), "left")
        .select(col("query_id"), col("method"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_permille", expr("n_hits * 1000 DIV 3"))
        .orderBy(col("query_id"), col("method"))
    },
    Some(s"""WITH exact AS (${qKnnBruteforce.oracle.get}),
       lsh AS (${qAnnLsh.oracle.get}),
       lshm AS (${qAnnLshMulti.oracle.get}),
       lshp AS (${qAnnLshProbe.oracle.get}),
       ivf AS (${qAnnIvf.oracle.get}),
       ivfp AS (${qAnnIvfProbe.oracle.get}),
       e3 AS (SELECT query_id, neighbor_id FROM exact WHERE rank <= 3),
       m AS (SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
             UNION ALL
             SELECT 'lsh_multi' AS method, query_id, neighbor_id FROM lshm
             UNION ALL
             SELECT 'lsh_probe' AS method, query_id, neighbor_id FROM lshp
             UNION ALL
             SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
             UNION ALL
             SELECT 'ivf_probe' AS method, query_id, neighbor_id FROM ivfp),
       hits AS (SELECT m.query_id, m.method, COUNT(*) AS n_hits
                FROM m JOIN e3 USING (query_id, neighbor_id)
                GROUP BY 1, 2),
       grid AS (SELECT query_id, method
                FROM (SELECT DISTINCT query_id FROM e3),
                     (SELECT UNNEST(['ivf', 'ivf_probe', 'lsh',
                                     'lsh_multi', 'lsh_probe']) AS method))
       SELECT g.query_id, g.method,
         COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 1000 // 3 AS recall_permille
       FROM grid g LEFT JOIN hits h USING (query_id, method)
       ORDER BY query_id, method"""))

  val defs: Map[String, Q] = Map(
    "q_embed_quantize" -> qEmbedQuantize,
    "q_knn_bruteforce" -> qKnnBruteforce,
    "q_knn_native" -> qKnnNative,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_lsh_multi" -> qAnnLshMulti,
    "q_ann_lsh_probe" -> qAnnLshProbe,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_ivf_probe" -> qAnnIvfProbe,
    "q_ann_recall" -> qAnnRecall,
    "q_ann_cost" -> qAnnCost,
    "q_embed_neardup" -> qEmbedNeardup,
    "q_embed_incremental" -> qEmbedIncremental,
    "q_embed_centroids" -> qEmbedCentroids)
}
