package graft

import org.apache.spark.sql.functions._

/** The public facade must hold its contracts under NON-default
  * parameters too — the graded queries only exercise the defaults. */
class GraftApiSpec extends SparkSpec {

  test("chunkDocuments reassembles at non-default size/stride/shards") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val chunks = Graft.chunkDocuments(docs, chunkSize = 32, stride = 24, shards = 4)
      .collect().groupBy(_.getLong(0))
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet === texts.keySet)
    chunks.foreach { case (id, rows) =>
      val toks = texts(id).split(" ", -1)
      val byId = rows.sortBy(_.getLong(1))
      byId.foreach { r =>
        val i = r.getLong(1).toInt
        assert(r.getString(4) === toks.slice(i * 24, i * 24 + 32).mkString(" "))
        assert(r.getLong(2) >= 0L && r.getLong(2) < 4L)
      }
      val rebuilt = byId.flatMap { r =>
        val ts = r.getString(4).split(" ", -1)
        if (r.getLong(1) == 0L) ts else ts.drop(8) // overlap = 32 - 24
      }
      assert(rebuilt.toSeq === toks.toSeq)
    }
  }

  test("pagerankFixedPoint: more iterations stay mass-bounded and deterministic") {
    val s = spark
    import s.implicits._
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c").toDF("node")
    Seq(1, 5).foreach { it =>
      val r = Graft.pagerankFixedPoint(edges, nodes, it).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(r.keySet === Set("a", "b", "c"))
      assert(r.values.forall(_ >= 150000000L))
      assert(r.values.sum <= 3L * 1000000000L)
      val again = Graft.pagerankFixedPoint(edges, nodes, it).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(r === again)
    }
  }

  test("normalizeText is idempotent through the facade") {
    val df = Tables.documents(spark, sfDir).limit(100)
      .select(Graft.normalizeText(col("text")).as("once"))
      .select(col("once"), Graft.normalizeText(col("once")).as("twice"))
    assert(df.filter(col("once") =!= col("twice")).count() === 0L)
  }

  test("bloomPruneJoin measurably sheds shuffle volume, not just rows") {
    // the claim is about BYTES CROSSING THE WIRE, so measure exactly
    // that: task-level shuffle-write bytes for the plain join vs the
    // bloom-pruned join against a selective dim. Broadcast is disabled
    // so both joins actually shuffle; records written stand in for
    // bytes (deterministic, unlike compressed byte counts).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recs.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def measure(f: => Long): (Long, Long) = {
      recs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = f
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
        (out, recs.get())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dim = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 9000)
      val (plainRows, plainShuffled) = measure {
        Tables.orders(spark, sfDir)
          .join(dim, col("o_custkey") === col("c_custkey")).count()
      }
      val (prunedRows, prunedShuffled) = measure {
        Graft.bloomPruneJoin(Tables.orders(spark, sfDir), "o_custkey",
          dim, "c_custkey").count()
      }
      assert(prunedRows === plainRows, "pruning must not change the result")
      assert(plainShuffled > 0)
      // the >9000-acctbal dim keeps a small fraction of customers, so
      // the probe should drop most fact rows before their shuffle
      assert(prunedShuffled < plainShuffled / 2,
        s"expected <half the shuffle records: plain=$plainShuffled pruned=$prunedShuffled")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("asofJoin matches the nested-loop definition on events") {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    val got = Graft.asofJoin(purchases, clicks, "user_id", "ts", "value")
      .select(col("event_id"), col("asof_ts"), col("asof_value"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)), Option(r.get(2))))
      .toMap
    // oracle: the literal definition as a theta join + argmax; c_val
    // tiebreaks duplicate timestamps the same way asofJoin defines it
    // (greatest value wins)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy(col("c_ts").desc, col("c_val").desc)
    val expect = purchases
      .join(clicks.select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          col("value").as("c_val")),
        col("user_id") === col("c_uid") && col("c_ts") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("c_ts"), col("c_val"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.getTimestamp(1)), Option(r.get(2))))
      .toMap
    assert(got === expect)
  }

  test("asofJoin never matches a null-timestamp right row") {
    val s = spark
    import s.implicits._
    // key 1: only a null-time quote -> no match, both asof cols null.
    // key 2: null-time AND a real earlier quote -> the real one wins.
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "t1"),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "t2"))
      .toDF("k", "ts", "tag")
    val right = Seq(
        (1L, Option.empty[java.sql.Timestamp], 99.0),
        (2L, Option.empty[java.sql.Timestamp], 98.0),
        (2L, Some(java.sql.Timestamp.valueOf("2024-01-01 09:00:00")), 7.0))
      .toDF("k", "ts", "px")
    val out = Graft.asofJoin(left, right, "k", "ts", "px")
      .collect().map(r => r.getLong(0) -> Option(r.get(4))).toMap
    assert(out === Map(1L -> None, 2L -> Some(7.0)))
  }

  test("asofJoin resolves duplicate (key, time) right rows to the greatest value") {
    val s = spark
    import s.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "ts")
    // three quotes at the SAME (key, time): defined winner is the max px,
    // independent of input order or partitioning
    val right = Seq((1L, t, 5.0), (1L, t, 9.0), (1L, t, 1.0))
      .toDF("k", "ts", "px").repartition(4)
    val out = Graft.asofJoin(left, right, "k", "ts", "px")
      .collect().map(_.getDouble(3))
    assert(out.toSeq === Seq(9.0))
  }

  test("asofJoin fails fast on reserved __graft_* input columns") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 0))
      .toDF("k", "ts", "__graft_side")
    val right = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1.0))
      .toDF("k", "ts", "px")
    val e = intercept[IllegalArgumentException] {
      Graft.asofJoin(left, right, "k", "ts", "px")
    }
    assert(e.getMessage.contains("__graft_side"))
  }

  // Synthetic corpus decoupled from Tables: 30 docs with per-doc
  // DISJOINT vocabularies (cross-doc jaccard is exactly 0), plus a
  // planted twin for every 3rd doc differing in one token (shingle
  // jaccard 10/12). Letter-only tokens incl. "the" so the dataset
  // build's quality gate keeps them.
  private def synthDocs = {
    val s = spark
    import s.implicits._
    def tok(i: Long, j: Int): String =
      s"${('a' + (i % 26)).toChar}${('a' + (i / 26 % 26)).toChar}${('a' + j).toChar}"
    def text(i: Long): String =
      ("the" +: (0 until 11).map(j => tok(i, j))).mkString(" ")
    val base = (0L until 30L).map(i => (i, text(i)))
    val twins = (0L until 30L by 3L).map(i =>
      (100L + i, text(i).split(" ").init.mkString(" ") + " " + tok(i, 12)))
    (base ++ twins).toDF("doc_id", "text")
  }
  private val plantedPairs = (0L until 30L by 3L).map(i => (i, 100L + i)).toSet

  test("minhashNearDupPairs finds exactly the planted twins on a non-testdata frame") {
    val pairs = Graft.minhashNearDupPairs(synthDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === plantedPairs)
  }

  test("ensembleNearDupPairs flags every planted twin with minhash evidence") {
    val df = Graft.ensembleNearDupPairs(synthDocs)
    assert(df.columns.toSeq ===
      Seq("doc_a", "doc_b", "by_minhash", "by_sorted", "by_simhash", "by_containment"))
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      .toMap
    plantedPairs.foreach { p =>
      assert(rows.contains(p), s"planted pair $p missing from ensemble")
      assert(rows(p)._1 === 1, s"planted pair $p lacks minhash evidence")
      // twins share 5 of their 6 distinct 7-gram shingles (containment
      // 833‰ ≥ 500‰) — the 4th family must vote for them too
      assert(rows(p)._4 === 1, s"planted pair $p lacks containment evidence")
    }
    // provenance flags are well-formed: every emitted pair has at
    // least one method's vote
    rows.values.foreach { case (mh, so, sh, ct) => assert(mh + so + sh + ct >= 1) }
  }

  test("leakageSafeSplit co-assigns twins and covers every doc") {
    val out = Graft.leakageSafeSplit(synthDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet === synthDocs.collect().map(_.getLong(0)).toSet)
    assert(out.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    plantedPairs.foreach { case (a, b) =>
      assert(out(a)._1 === out(b)._1, s"twins ($a,$b) in different clusters")
      assert(out(a)._2 === out(b)._2, s"twins ($a,$b) straddle splits")
    }
    // non-twin docs are singleton clusters keyed by their own id
    val twinIds = plantedPairs.flatMap(p => Set(p._1, p._2))
    out.filterNot(kv => twinIds.contains(kv._1)).foreach { case (id, (c, _)) =>
      assert(c === id, s"singleton $id landed in cluster $c")
    }
  }

  test("decontaminate flags exactly the docs overlapping the bench set") {
    val docs = synthDocs.filter(col("doc_id") < 30)
    // bench = verbatim copies of docs 0, 3, 6 under new ids — 11
    // shared bigrams each, far past the default minOverlap 3; all
    // other docs share zero (disjoint vocabularies)
    val bench = docs.filter(col("doc_id").isin(0L, 3L, 6L))
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val out = Graft.decontaminate(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet === (0L until 30L).toSet)
    (0L until 30L).foreach { id =>
      if (Set(0L, 3L, 6L).contains(id)) {
        assert(out(id)._2 && out(id)._1 >= 11L, s"doc $id should be contaminated")
      } else assert(!out(id)._2 && out(id)._1 === 0L, s"doc $id is clean")
    }
  }

  test("knnTopK / annTopK facade forms equal the graded query outputs") {
    // the facade entries must BE the graded algorithms, not parallel
    // implementations — pin row-set equality against q_knn_native
    // (exact, native kernel), q_ann_lsh (bucketed scale path) and
    // q_embed_incremental (even ids as corpus, odd ids as batch) on
    // the real embeddings table with the graded query set
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Graft.knnTopK(e, q, 5)) ===
      rows(SparkEntry.queries("q_knn_native")(spark, sfDir)))
    assert(rows(Graft.annTopK(e, q, 3)) ===
      rows(SparkEntry.queries("q_ann_lsh")(spark, sfDir)))
    def screened(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val graded = screened(SparkEntry.queries("q_embed_incremental")(spark, sfDir))
    assert(graded.nonEmpty)
    assert(screened(Graft.embedScreen(e.filter(col("vec_id") % 2 === 0),
      e.filter(col("vec_id") % 2 === 1), 0.35)) === graded)
  }

  test("knnTopK / annTopK excludeSelf=false keeps a same-id true neighbor") {
    // r17 ADVICE: a facade caller whose query frame uses an id
    // namespace INDEPENDENT of the corpus's must be able to turn off
    // the shared-namespace self-exclusion — else a legitimate nearest
    // neighbor that happens to share an id is silently dropped. Query
    // id 0 is byte-identical to corpus id 0 here, so under the default
    // the cosine-1.0 neighbor vanishes; with excludeSelf=false it is
    // rank 1 for both the exact and the bucketed path (identical
    // embedding → identical hyperplane bucket by construction).
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (0L, Array(1.0f, 0.2f, 0.1f, 0.0f)),
      (1L, Array(0.9f, 0.3f, 0.2f, 0.1f)),
      (2L, Array(-1.0f, 0.5f, -0.4f, 0.2f))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0L)
    def top1(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = df.filter(col("rank") === 1).collect().head
      (r.getLong(2), r.getDouble(3))
    }
    assert(top1(Graft.knnTopK(corpus, queries, 2))._1 === 1L)
    val (knnId, knnCos) = top1(Graft.knnTopK(corpus, queries, 2,
      excludeSelf = false))
    // sqrt(d)*sqrt(d) may differ from d by an ulp, so the self-cosine
    // is 1.0 only to within rounding — the rank-1 identity is exact
    assert(knnId === 0L && math.abs(knnCos - 1.0) < 1e-12)
    assert(top1(Graft.annTopK(corpus, queries, 2))._1 === 1L)
    val (annId, annCos) = top1(Graft.annTopK(corpus, queries, 2,
      excludeSelf = false))
    assert(annId === 0L && math.abs(annCos - 1.0) < 1e-12)
  }

  test("embedScreen matches a near-copy against the corpus, ignores orthogonal vectors") {
    val s = spark
    import s.implicits._
    // 4-dim toy space: batch vec 1 is a near-copy of corpus vec 0
    // (cosine ≈ 0.994, same hyperplane signs → same bucket by
    // construction); batch vec 3 is orthogonal to the whole corpus
    // (cosine 0 < any threshold)
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Graft.embedScreen(corpus, batch, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(1L), s"only the near-copy matches: $out")
    val (n, first, best) = out(1L)
    assert(n === 1L && first === 0L)
    assert(math.abs(best - 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)) < 1e-9)
  }

  test("survivorsByQuality keeps the best twin per cluster, tiebreaks by id") {
    val s = spark
    import s.implicits._
    // planted twins have equal text length → quality ties → the lower
    // doc_id (the base doc) must win deterministically
    val docs = synthDocs.withColumn("n_chars", length(col("text")))
    val out = Graft.survivorsByQuality(docs, "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet === plantedPairs.map(_._1),
      "one cluster per planted twin pair, keyed by the min member id")
    plantedPairs.foreach { case (a, _) =>
      assert(out(a) === ((a, 2L)), s"cluster $a: expected base doc as survivor")
    }
    // a longer twin must displace the base doc as survivor
    val boosted = docs.withColumn("n_chars",
      when(col("doc_id") >= 100L, col("n_chars") + 1000).otherwise(col("n_chars")))
    val out2 = Graft.survivorsByQuality(boosted, "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    plantedPairs.foreach { case (a, b) =>
      assert(out2(a) === b, s"cluster $a: boosted twin $b must survive")
    }
  }

  test("decontaminate at 13-grams only fires on long verbatim overlap") {
    val s = spark
    import s.implicits._
    val run = (0 until 20).map(j => s"w$j").mkString(" ") // 20 shared tokens
    val corpus = Seq(
      (1L, run + " tail one"),                       // 13-gram overlap: 8 windows
      (2L, (0 until 10).flatMap(k => Seq(s"w${2 * k}", s"w${2 * k + 1}", s"z$k"))
        .mkString(" ")), // 10 shared bigrams (w0 w1, w2 w3, …), NO shared 13-gram
      (3L, "totally different words here entirely distinct")).toDF("doc_id", "text")
    val bench = Seq((9L, run + " other ending")).toDF("doc_id", "text")
    // at n=13, minOverlap=1: only the verbatim 20-token run collides
    val strict = Graft.decontaminate(corpus, bench, minOverlap = 1, n = 13)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(strict === Map(1L -> true, 2L -> false, 3L -> false))
    // at bigrams the interleaved doc 2 would over-flag — the reason
    // long grams exist
    val loose = Graft.decontaminate(corpus, bench, minOverlap = 3, n = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(loose(2L), "bigrams over-flag interleaved shared vocabulary")
  }

  test("snapshotDiff + mergeUpsert round-trip on generic string-valued frames") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val next = Seq((2L, "b"), (3L, "x"), (4L, "d"), (5L, "e")).toDF("k", "v")
    val delta = Graft.snapshotDiff(base, next, "k", "v")
    val byType = delta.collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)), Option(r.get(3))))
      .toMap
    assert(byType === Map(
      1L -> (("removed", Some("a"), None)),
      3L -> (("changed", Some("c"), Some("x"))),
      5L -> (("added", None, Some("e")))))
    val merged = Graft.mergeUpsert(base, delta, "k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged === next.collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      "merge(base, diff(base, next)) must equal next")
  }

  test("mergeUpsert resolves duplicate same-priority keys deterministically") {
    val s = spark
    import s.implicits._
    // base carries key 1 THREE times (not snapshotDiff output): the
    // survivor must be the greatest value, independent of partitioning
    val base = Seq((1L, "b"), (1L, "z"), (1L, "a"), (2L, "q"))
      .toDF("k", "v").repartition(4)
    val delta = Seq((3L, "added", Option.empty[String], Some("x")))
      .toDF("k", "change_type", "v_old", "v_new")
    (1 to 3).foreach { _ =>
      val merged = Graft.mergeUpsert(base, delta, "k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(merged === Set((1L, "z"), (2L, "q"), (3L, "x")))
    }
  }

  test("datasetBuild on a non-testdata frame: gate, dedup, split, chunk counts") {
    // synthetic docs + one exact duplicate pair; every doc passes the
    // gate (12 letter-only tokens incl. 'the'), each doc yields one
    // 64-token chunk, and the duplicate contributes one survivor
    val docs = synthDocs
      .union(synthDocs.filter(col("doc_id") === 0L)
        .select(lit(500L).as("doc_id"), col("text")))
      .withColumn("n_chars", length(col("text")))
    val nDocs = docs.count()
    val out = Graft.datasetBuild(docs).collect()
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    val totalDocs = out.map(_.getLong(3)).sum
    val totalChunks = out.map(_.getLong(2)).sum
    val totalTokens = out.map(_.getLong(4)).sum
    assert(totalDocs === nDocs - 1, "exactly the planted duplicate is dropped")
    assert(totalChunks === totalDocs, "12-token docs chunk 1:1")
    assert(totalTokens === 12L * totalDocs)
  }

  test("normalizeTextUnicode keeps every script's letters, folds the rest") {
    val s = spark
    import s.implicits._
    val fixtures = Seq(
      ("Hello, Wörld!", "hello wörld"),           // Latin-1 letter kept
      ("ΚΑΛΗΜΈΡΑ — Κόσμε", "καλημέρα κόσμε"),     // Greek, ICU lowercase
      ("数据 processing: 123!", "数据 processing 123"), // CJK + digits
      ("a--b  c__d\t e", "a b c d e"),            // runs fold to one space
      ("  déjà   vu  ", "déjà vu"))               // trim + accents
    val df = fixtures.toDF("raw", "expect")
      .withColumn("got", Graft.normalizeTextUnicode(col("raw")))
      .withColumn("again", Graft.normalizeTextUnicode(col("got")))
    df.collect().foreach { r =>
      assert(r.getString(2) === r.getString(1), s"raw='${r.getString(0)}'")
      assert(r.getString(3) === r.getString(2), "must be idempotent")
    }
    // on pure-ASCII input the two variants must coincide — the ASCII
    // form stays the graded default, this is its multilingual superset
    val ascii = Tables.documents(spark, sfDir).limit(200)
      .select(Graft.normalizeText(col("text")).as("a"),
        Graft.normalizeTextUnicode(col("text")).as("u"))
    assert(ascii.filter(col("a") =!= col("u")).count() === 0L)
  }

  test("quality facade: profile, constraints and outliers run on a user frame") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 11.0), (2L, "c", 1000.0),
      (3L, "a", 12.0), (4L, "a", 13.0)).toDF("id", "cat", "v")
    val prof = Graft.profile(df, Seq("id" -> identity, "cat" -> identity))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(prof === Map("id" -> 4L, "cat" -> 3L))
    val checks = Graft.checkConstraints(Seq(ops.QualityOps.Check("id_unique",
      df.agg((count(lit(1)) - countDistinct(col("id"))).as("v"))))).collect()
    assert(checks.head.getLong(1) === 1L && !checks.head.getBoolean(2))
    val out = Graft.outliersIqr(df.filter(col("cat") === "a" || col("id") === 2L)
      .withColumn("g", lit("g")), "g", "v").collect().head
    assert(out.getAs[Long]("n_hi") >= 1L, "the 1000.0 row is a high outlier")
  }

  test("profile of a derived frame: persistInput caches it, caller releases it") {
    import spark.implicits._
    // a derived (joined+aggregated) frame — the case where each
    // per-column profiler pass would otherwise re-run the whole plan
    val base = Seq((1L, "a", 2.0), (2L, "a", 3.0), (3L, "b", 9.0))
      .toDF("id", "cat", "v")
    val derived = base.groupBy("cat").agg(sum("v").as("total"))
    val prof = Graft.profile(derived,
      Seq("cat" -> identity, "total" -> (_.cast("decimal(18,2)"))),
      persistInput = true)
    val rows = prof.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(3), r.getString(4))).toMap
    assert(rows("cat") === ((2L, 2L, "a")) && rows("total")._2 === 2L)
    // the cache entry is registered on the caller's own plan: their
    // handle can see and release it
    assert(derived.storageLevel.useMemory, "persistInput must cache the input")
    derived.unpersist(blocking = true)
    assert(!derived.storageLevel.useMemory)
  }

  test("substring facade: hotness and containment agree on a planted subset") {
    import spark.implicits._
    val big = (1 to 40).map(i => s"t$i").mkString(" ")
    val small = (5 to 16).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small)).toDF("doc_id", "text")
    val hot = Graft.substringHotness(docs, k = 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("dup_permille")).toMap
    assert(hot(2) === 1000L, "small doc is wholly duplicated substring mass")
    assert(hot(1) > 0L && hot(1) < 1000L, "big doc is only partially duplicated")
    val pairs = Graft.containmentPairs(docs, k = 4).collect()
    assert(pairs.length === 1 &&
      pairs.head.getAs[Long]("containment_permille") === 1000L)
  }

  test("intervalOverlapCounts equals the brute-force join at any bin width") {
    import spark.implicits._
    // deterministic pseudo-random intervals, including touching
    // endpoints (closed-interval ties) and containment nesting
    val iv = (1 to 120).map { i =>
      val s = (i * 37) % 250
      (i.toLong, s.toLong, (s + 1 + (i * 13) % 40).toLong)
    }.toDF("id", "s", "e")
    val brute = iv.as("a").join(iv.as("b"),
        col("b.s") <= col("a.e") && col("a.s") <= col("b.e") &&
          col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (w <- Seq(1L, 7L, 64L, 1000L)) {
      val got = Graft.intervalOverlapCounts(iv, Seq("id"), "s", "e", w)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_overlapping")).toMap
      assert(got.size === 120, s"width $w must cover every interval")
      got.foreach { case (id, n) =>
        assert(n === brute.getOrElse(id, 0L), s"id $id at width $w")
      }
    }
  }

  test("intervalOverlapCounts fails fast on an outlier-driven spine explosion") {
    import spark.implicits._
    // one corrupt year-9999 end timestamp: at binWidth=1 the spine
    // would need ~2.5e11 bins — the guard must raise a targeted error
    // naming binWidth BEFORE sequence() allocates anything
    val iv = Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 0L, 253402300799L))
      .toDF("id", "s", "e")
    val ex = intercept[Exception] {
      Graft.intervalOverlapCounts(iv, Seq("id"), "s", "e", 1L).collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("binWidth"), s"error must name binWidth:\n$chain")
    // the same frame minus the outlier (or with a sane binWidth) works
    assert(Graft.intervalOverlapCounts(iv, Seq("id"), "s", "e", 86400L)
      .count() === 3L)
  }

  test("liftPermille enforces the int64 headroom near the bound") {
    import spark.implicits._
    // MaxLong DIV 1000 DIV 1e9 = 9223372: the largest nab whose
    // nab·N·1000 product still fits int64 at N = 1e9 total orders
    val inBounds = Seq((9223372L, 1L, 1L, 1000000000L))
      .toDF("nab", "na", "nb", "total_orders")
      .select(ops.Advanced.liftPermille.as("lift")).collect()
    assert(inBounds.head.getLong(0) === 9223372L * 1000000000L * 1000L)
    def failsWith(nab: Long, na: Long, nb: Long, total: Long): Unit = {
      val ex = intercept[Exception] {
        Seq((nab, na, nb, total)).toDF("nab", "na", "nb", "total_orders")
          .select(ops.Advanced.liftPermille.as("lift")).collect()
      }
      val chain = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      assert(chain.contains("DECIMAL(38,0)"), s"must name the escape route:\n$chain")
    }
    failsWith(9223373L, 1L, 1L, 1000000000L) // nab·N·1000 one past the bound
    failsWith(2L, Long.MaxValue / 2 + 1, 2L, 10L) // na·nb past the bound
  }

  test("Graft.enable wires functions, rules and strategy into a live session") {
    Graft.enable(spark)
    Graft.enable(spark) // idempotent — second call must not double-register
    assert(spark.experimental.extraOptimizations
      .count(_ == plans.BinRangeJoin) === 1)
    assert(spark.experimental.extraOptimizations
      .count(_ == plans.FoldParseMoney) === 1)
    assert(spark.experimental.extraOptimizations
      .count(_ == plans.SortBeforeProject) === 1)
    assert(spark.experimental.extraStrategies
      .count(_ == plans.TopKPerKeyStrategy) === 1)
    // SQL surface is live: UDF, UDAF, and both native expressions
    val row = spark.sql(
      """SELECT parse_money('R$ 1,234.56') AS m,
                parse_money_native('$12.50') AS mn,
                dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                      array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""").head()
    assert(row.getDouble(0) === 1234.56 && row.getDouble(1) === 12.5)
    assert(math.abs(row.getDouble(2) - 11.0) < 1e-6)
    // the folding rule runs: a literal parse_money_native is gone from
    // the optimized plan
    val folded = spark.sql("SELECT parse_money_native('$3.50') AS v")
      .queryExecution.optimizedPlan.toString
    assert(!folded.contains("parse_money_native"), folded)
  }

  test("keySkew skew factor enforces the int64 headroom near the bound") {
    import spark.implicits._
    // MaxLong DIV 1000 DIV 1e6 = 9223372036: the largest n whose
    // n·n_keys·1000 product still fits int64 at 1e6 keys
    val in = Seq((9223372036L, 1000000L, 9223372036L))
      .toDF("n", "n_keys", "total")
      .select(ops.QualityOps.skewX1000.as("s")).collect()
    assert(in.head.getLong(0) === 1000000L * 1000L) // n == total → skew = n_keys·1000
    val ex = intercept[Exception] {
      Seq((9223372037L, 1000000L, 9223372037L))
        .toDF("n", "n_keys", "total")
        .select(ops.QualityOps.skewX1000.as("s")).collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("DECIMAL(38,0)"), s"must name the escape route:\n$chain")
  }

  test("rollingUniques fans out, drops future buckets, exact stickiness") {
    import spark.implicits._
    // hour 0: users 1,2; hour 1: user 1; hour 2: user 3 — at a 2-hour
    // window the expected buckets are fully hand-checkable, and the
    // hour-3 contribution of the last event must be dropped (partial
    // future window)
    val ev = Seq((0L, 1L), (0L, 2L), (1L, 1L), (2L, 3L))
      .map { case (h, u) => (h * 3600L, u) }.toDF("ts", "user_id")
    val got = Graft.rollingUniques(ev, windowHours = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      0L -> ((2L, 2L, 1000L)),
      1L -> ((1L, 2L, 500L)),
      2L -> ((1L, 2L, 500L))))
  }

  test("audienceOverlap: planted user sets, zero-overlap pairs absent") {
    import spark.implicits._
    val ev = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("A", 3L), // dup proves distinct
      ("B", 2L), ("B", 3L), ("C", 9L)).toDF("event_type", "user_id")
    val rows = Graft.audienceOverlap(ev).collect()
    assert(rows.length === 1, "only the A-B pair shares users")
    val r = rows.head
    assert(r.getString(0) === "A" && r.getString(1) === "B")
    assert(r.getAs[Long]("n_both") === 2L &&
      r.getAs[Long]("jaccard_permille") === 666L)
  }

  test("copurchasePairs: exact support and lift on planted baskets") {
    import spark.implicits._
    // A,B co-occur in 3 of 4 baskets (lift 3·4/(3·3) = 1.333); the
    // duplicate (o1, A) line proves within-basket dedup; pairs below
    // support 2 must be pruned
    val rows = Seq((1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"), (2L, "A"),
      (2L, "B"), (3L, "A"), (3L, "B"), (4L, "C")).toDF("o", "item")
    val got = Graft.copurchasePairs(rows, "o", "item").collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "A" && r.getString(1) === "B")
    assert(r.getAs[Long]("nab") === 3L && r.getAs[Long]("na") === 3L &&
      r.getAs[Long]("nb") === 3L)
    assert(r.getAs[Long]("lift_permille") === 1333L)
  }

  test("bm25Rank: non-default k, only matching docs, ordered integer scores") {
    val docs = Tables.documents(spark, sfDir)
    val got = Graft.bm25Rank(docs, Seq("spark"), k = 5).collect()
    assert(got.length === 5)
    assert(got.map(_.getAs[Int]("rn")).toSeq === (1 to 5))
    val scores = got.map(_.getAs[Long]("bm25_micro")).toSeq
    assert(scores === scores.sorted.reverse, s"not descending: $scores")
    // every ranked doc actually contains the query term
    val ids = got.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = docs.filter(col("text").contains("spark"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(withTerm))
  }

  test("invertedIndex: cap bounds postings while df keeps the true count") {
    val docs = Tables.documents(spark, sfDir)
    val idx = Graft.invertedIndex(docs, maxPostings = 5).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val postings = r.getSeq[Long](2)
      assert(postings.length <= 5)
      assert(postings === postings.sorted)
      // the cap truncates the list, never the count
      assert(r.getAs[Long]("df") >= postings.length.toLong)
    }
    val someTerm = idx.head.getString(0)
    val trueDf = docs.filter(
      array_contains(split(col("text"), " "), someTerm)).count()
    assert(idx.head.getAs[Long]("df") === trueDf)
  }

  test("eventTransitions: transition mass and permille bounds") {
    val events = Tables.events(spark, sfDir)
    val m = Graft.eventTransitions(events).collect()
    val totalN = m.map(_.getAs[Long]("n")).sum
    val nEvents = events.count()
    val nUsers = events.select("user_id").distinct().count()
    // each user's sequence of length L contributes L-1 transitions
    assert(totalN === nEvents - nUsers)
    m.foreach { r =>
      val p = r.getAs[Long]("p_permille")
      assert(p >= 0L && p <= 1000L)
    }
    // per-from permilles are floors, so they sum to (1000 - slack]
    m.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("p_permille")).sum
      assert(s <= 1000L && s > 1000L - rows.length, s"permille sum $s")
    }
  }

  test("rfmSegments: quartile bounds and customer mass conservation") {
    val orders = Tables.orders(spark, sfDir)
    // properties hold on BOTH paths; the r11 facade default is the
    // threshold (approx) form, exact=true the NTILE diagnostic
    for (exact <- Seq(false, true)) {
      val seg = Graft.rfmSegments(orders, exact = exact).collect()
      val nCust = orders.select("o_custkey").distinct().count()
      assert(seg.map(_.getAs[Long]("n_customers")).sum === nCust)
      seg.foreach { r =>
        Seq("r_score", "f_score", "m_score").foreach { c =>
          val v = r.getAs[Int](c)
          assert(v >= 1 && v <= 4, s"$c = $v out of quartile range (exact=$exact)")
        }
      }
    }
    // the default IS the scale path, the named alias, and each routes
    // to its ops twin — pin the wiring, not just the properties
    assert(Graft.rfmSegments(orders).collect().toSeq ===
      Graft.rfmSegmentsApprox(orders).collect().toSeq)
    assert(Graft.rfmSegments(orders, exact = true).collect().toSeq ===
      ops.Advanced.rfmSegments(orders).collect().toSeq)
  }

  test("scd2History + scd2SnapshotAt reconstruct the planted regime at any instant") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(es: Long) = new Timestamp(es * 1000L)
    // user 1: A@[100,300) B@[300,0); user 2: C@[200,0). The A-run has
    // two events — scd2 must collapse the run, not emit per-event rows
    val ev = Seq(
      (1L, t(100), 1L, "A", 0.0), (2L, t(250), 1L, "A", 0.0),
      (3L, t(300), 1L, "B", 0.0), (4L, t(200), 2L, "C", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val hist = Graft.scd2History(ev)
    assert(hist.count() === 3)
    val at250 = Graft.scd2SnapshotAt(hist, lit(250L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at250 === Map(1L -> "A", 2L -> "C"))
    val at301 = Graft.scd2SnapshotAt(hist, lit(301L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at301 === Map(1L -> "B", 2L -> "C"))
    // before user 2 existed, only user 1 has a regime
    val at150 = Graft.scd2SnapshotAt(hist, lit(150L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at150 === Map(1L -> "A"))
  }

  test("vocabGrowth: cumulative curve is monotone and totals the distinct bigrams") {
    val docs = Tables.documents(spark, sfDir)
    val curve = Graft.vocabGrowth(docs, bucketDocs = 10).collect()
    assert(curve.nonEmpty)
    val vocab = curve.map(_.getAs[Long]("vocab")).toSeq
    assert(vocab === vocab.sorted, "cumulative vocab must be non-decreasing")
    assert(curve.map(_.getAs[Long]("new_bigrams")).sum === vocab.last)
    val trueDistinct = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
             i -> concat(element_at(toks, i + 1), ' ',
                         element_at(toks, i + 2)))""")).as("bg"))
      .distinct().count()
    assert(vocab.last === trueDistinct)
  }

  test("keySkew ranks a planted hot key first with the right share and factor") {
    import spark.implicits._
    // key 7 carries 6 of 12 rows; 4 distinct keys → skew = 6/(12/4) = 2.0
    val rows = Seq.fill(6)(7L) ++ Seq(1L, 1L, 2L, 2L, 3L, 3L)
    val out = Graft.keySkew(rows.toDF("k"), "k", topK = 2).collect()
    assert(out.length === 2)
    assert(out.head.getLong(1) === 7L && out.head.getLong(2) === 6L)
    assert(out.head.getAs[Long]("share_permille") === 500L)
    assert(out.head.getAs[Long]("skew_x1000") === 2000L)
    // rank-2 is the lowest-key count-2 key (deterministic tiebreak)
    assert(out(1).getLong(1) === 1L && out(1).getAs[Long]("skew_x1000") === 666L)
  }

  test("pruneByRelativeRank keeps exactly the cross-multiplied top slice per group") {
    import spark.implicits._
    // group a: 10 rows → keep 3 of 10 at 300‰; group b: 4 rows → keep 1
    val df = ((1 to 10).map(i => ("a", i.toLong, i)) ++
      (1 to 4).map(i => ("b", 100L + i, i))).toDF("g", "id", "score")
    val kept = Graft.pruneByRelativeRank(df, "g", "score", "id", keepPermille = 300)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept === Set(("a", 10L), ("a", 9L), ("a", 8L), ("b", 104L)))
    // equal scores resolve by id: two score-ties at the cut keep the lower id
    val ties = Seq(("c", 1L, 5), ("c", 2L, 5), ("c", 3L, 1)).toDF("g", "id", "score")
    val keptTies = Graft.pruneByRelativeRank(ties, "g", "score", "id", 334)
      .collect().map(_.getLong(1)).toSet
    assert(keptTies === Set(1L))
    // reserved output/internal names are refused, not overwritten
    val clash = Seq(("a", 1L, 1, 9)).toDF("g", "id", "score", "rk")
    val ex = intercept[IllegalArgumentException] {
      Graft.pruneByRelativeRank(clash, "g", "score", "id", 500)
    }
    assert(ex.getMessage.contains("rk"))
  }

  test("fluencyScore: predictable word sequences outscore a shuffled one") {
    import spark.implicits._
    // 8 docs repeat the same sentence (every bigram seen 8× with the
    // same head) → near-1000‰ conditional evidence per bigram; the
    // 9th reuses the SAME vocabulary in scrambled orders whose
    // bigrams appear once each → low evidence. The model is trained
    // on the corpus itself, so the scores are fully deterministic.
    val fluent = (1 to 8).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val garbled = Seq((9L, "dog the over quick lazy fox brown jumps the"))
    val scored = Graft.fluencyScore((fluent ++ garbled).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scored.size === 9)
    val fluentMin = (1L to 8L).map(scored).min
    assert(fluentMin > scored(9L),
      s"repeated-sentence docs ($fluentMin) must outscore the shuffled doc (${scored(9L)})")
    assert(scored(9L) >= 0 && fluentMin <= 1000, "permille bounds")
    // docs without bigrams are excluded, not scored 0
    val one = Graft.fluencyScore(Seq((1L, "single")).toDF("doc_id", "text"))
    assert(one.count() === 0)
  }

  test("oovRate: planted vocab tail scores exact permille") {
    val s = spark
    import s.implicits._
    // corpus counts: c=3, a=2, b=2 — top-2 by (count desc, term asc)
    // is {c, a}, so b is the OOV tail
    val docs = Seq((1L, "a a b"), (2L, "b c c c")).toDF("doc_id", "text")
    val r = Graft.oovRate(docs, vocabSize = 2).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((3L, 1L, 333L)))
    assert(r(2L) === ((4L, 1L, 250L)))
    // vocabSize covering the whole vocabulary → zero OOV everywhere
    val all = Graft.oovRate(docs, vocabSize = 3).collect()
    assert(all.forall(_.getLong(2) === 0L))
  }

  test("ngramNovelty: a verbatim re-serve scores zero novel trigrams") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x y z w"),   // introduces "x y z", "y z w"
      (2L, "x y z q"),   // re-serves "x y z", introduces "y z q"
      (3L, "x y z w")    // verbatim copy of doc 1 — nothing novel
    ).toDF("doc_id", "text")
    val r = Graft.ngramNovelty(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((2L, 2L, 1000L)))
    assert(r(2L) === ((2L, 1L, 500L)))
    assert(r(3L) === ((2L, 0L, 0L)))
  }

  test("filterFunnel: each planted doc drops at its own stage") {
    val s = spark
    import s.implicits._
    val pass12 = Array.fill(11)("ok").mkString(" ") // 11 tokens, len 2
    val docs = Seq(
      (1L, "too few tokens"),                    // fails 1: < 10 tokens
      (2L, Array.fill(12)("a").mkString(" ")),   // fails 2: mean len 1
      (3L, pass12 + " 99999999"),                // fails 3: digit-heavy
      (4L, pass12 + " fine"),                    // fails 4: no "the"
      (5L, pass12 + " the")                      // survives all four
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val r = Graft.filterFunnel(docs).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.map(_._1).toSeq ===
      Seq("1_token_bounds", "2_word_len_band", "3_symbol_ratio", "4_stopword"))
    assert(r.map(_._2).toSeq ===
      Seq((5L, 4L, 1L), (4L, 3L, 1L), (3L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("sourceDrift: identical strata score zero, disjoint strata score 1e6") {
    val s = spark
    import s.implicits._
    // both sources have the exact global distribution → TV distance 0
    val same = Seq((1L, "a b", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    assert(Graft.sourceDrift(same).collect().forall(_.getLong(2) === 0L))
    // disjoint vocabularies: each source is at full distance —
    // |1e6/1 − 5e5/1| + |0 − 5e5| = 1e6 per source, exactly
    val disjoint = Seq((1L, "a a", "s1"), (2L, "b b", "s2"))
      .toDF("doc_id", "text", "source")
    val r = Graft.sourceDrift(disjoint).collect()
      .map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(r === Map("s1" -> 1000000L, "s2" -> 1000000L))
  }

  test("crossSourceDupMatrix: planted twins roll up to the right source pairs") {
    val s = spark
    import s.implicits._
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "one two three four five six seven"
    val docs = Seq(
      (1L, a, "srcA"), (2L, a, "srcB"),  // cross-source twin pair
      (3L, b, "srcA"), (4L, b, "srcA"),  // within-source twin pair
      (5L, "lone wolf text nothing shared here", "srcC") // no dup
    ).toDF("doc_id", "text", "source")
    val r = Graft.crossSourceDupMatrix(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r === Map(("srcA", "srcB") -> 1L, ("srcA", "srcA") -> 1L))
  }

  test("dedupClusterSizes: histogram sums to the corpus incl. the singleton row") {
    val s = spark
    import s.implicits._
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq( // cluster 1: 3 members, cluster 4: 2 members
      (1L, 1L, 3L), (1L, 2L, 3L), (1L, 3L, 3L),
      (4L, 4L, 2L), (4L, 5L, 2L)
    ).toDF("cluster_id", "doc_id", "cluster_size")
    val r = Graft.dedupClusterSizes(docs, clusters).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 5L, 2L -> 1L, 3L -> 1L))
    // rows sum back to the corpus
    assert(r.map { case (sz, n) => sz * n }.sum === 10L)
    // degenerate corpus with no clusters at all: one all-singleton row
    val empty = clusters.filter(col("cluster_id") < 0L)
    val lone = Graft.dedupClusterSizes(docs, empty).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(lone === Map(1L -> 10L))
  }

  test("datasetCard: every metric matches the hand count on a planted corpus") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s1"),      // 3 tokens, 5 chars
      (2L, "d e", "en", "s1"),        // 2 tokens, 3 chars
      (3L, "f g h i", "pt", "s2")     // 4 tokens, 7 chars
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val r = Graft.datasetCard(docs).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map(
      "01_n_docs" -> 3L, "02_n_sources" -> 2L, "03_n_langs" -> 2L,
      "04_n_tokens" -> 9L, "05_n_chars" -> 15L,
      "06_min_doc_tokens" -> 2L, "07_max_doc_tokens" -> 4L,
      "08_mean_doc_tokens_permille" -> 3000L))
  }

  test("dedupRateBySource: removal rate counts members minus canonicals") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "s1"), (2L, "s1"), (3L, "s1"), (4L, "s1"),  // 1,2,3 cluster; 4 free
      (5L, "s2"), (6L, "s2")                           // 5 joins s1's cluster
    ).toDF("doc_id", "source")
    // min-id-labeled cluster {1,2,3,5}: canonical is doc 1 (in s1)
    val clusters = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 5L))
      .toDF("cluster_id", "doc_id")
    val r = Graft.dedupRateBySource(docs, clusters).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // s1: 4 docs, 3 members, canonical 1 kept → kept 2, removed 2/4 = 500‰
    assert(r("s1") === ((4L, 3L, 2L, 500L)))
    // s2: 2 docs, 1 member, no canonical → kept 1, removed 1/2 = 500‰
    assert(r("s2") === ((2L, 1L, 1L, 500L)))
    // sourceCol parameter (family parity with crossSourceDupMatrix,
    // ADVICE r11): a renamed stratum column yields the same table,
    // with the output column still named `source`
    val renamed = Graft.dedupRateBySource(
      docs.withColumnRenamed("source", "origin"), clusters,
      sourceCol = "origin").collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(renamed === r)
  }

  test("dedup observability tables are mutually consistent on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    // the cross-source matrix is a pure rollup: its pair total must
    // equal the pair list it rolls up
    val nPairs = Graft.minhashNearDupPairs(docs).count()
    val matrixTotal = Graft.crossSourceDupMatrix(docs)
      .agg(sum(col("n_pairs"))).head.getLong(0)
    assert(matrixTotal === nPairs)
    // the size histogram (incl. its singleton row) must sum back to
    // the corpus, by construction
    val clusters = ops.TextOps.qDedupClusters.fn(spark, sfDir)
    val hist = Graft.dedupClusterSizes(docs, clusters).collect()
    assert(hist.map(r => r.getLong(0) * r.getLong(1)).sum === nDocs)
    // the rate table partitions the corpus: per-source docs sum to the
    // corpus, and total removals equal members minus canonicals of the
    // same cluster table
    val rate = Graft.dedupRateBySource(docs, clusters).collect()
    assert(rate.map(_.getLong(1)).sum === nDocs)
    val members = clusters.count()
    val nClusters = clusters.select(col("cluster_id")).distinct().count()
    assert(rate.map(r => r.getLong(1) - r.getLong(3)).sum === members - nClusters)
  }

  test("bloomPruneJoin equals the plain join on non-default fpp") {
    val dim = Tables.customer(spark, sfDir).filter(col("c_acctbal") > 5000)
    val plain = Tables.orders(spark, sfDir)
      .join(dim, col("o_custkey") === col("c_custkey")).count()
    val pruned = Graft.bloomPruneJoin(
      Tables.orders(spark, sfDir), "o_custkey", dim, "c_custkey",
      expectedItems = 50000L, fpp = 0.1).count()
    assert(pruned === plain)
  }
}
