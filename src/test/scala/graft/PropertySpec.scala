package graft

import graft.functions.ParseMoneyExpr
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5.2.3): parse/format round-trips
  * and algebraic laws of the engine's operations. Uses raw ScalaCheck
  * generators with fixed seeds (scalatestplus isn't in the offline
  * dependency cache). Pure-function properties run at high volume;
  * Spark-job properties at reduced volume (each case is a job). */
class PropertySpec extends SparkSpec {

  /** deterministic sampling loop over a generator */
  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private val cents: Gen[Long] = Gen.chooseNum(0L, 99999999L) // ≤ $999,999.99

  test("parseMoney round-trips any US-formatted money value (pure, 500 cases)") {
    forAllN(Gen.zip(cents, Gen.oneOf("$", "R$ ", "")), 500) { case (c, prefix) =>
      val value = c / 100.0
      val formatted = prefix + String.format(java.util.Locale.US, "%,.2f",
        java.lang.Double.valueOf(value))
      val parsed = ParseMoneyExpr.parseOrNull(ParseMoneyExpr.strip(formatted))
      assert(parsed != null && parsed.doubleValue() === value, formatted)
    }
  }

  test("strip never lengthens and is idempotent (pure, 500 cases)") {
    forAllN(Gen.asciiPrintableStr, 500) { s =>
      val once = ParseMoneyExpr.strip(s)
      assert(once.length <= s.length)
      assert(ParseMoneyExpr.strip(once) === once)
    }
  }

  test("rolling-hash fingerprint: deterministic and in-range (pure, 300 cases)") {
    val p = 1000000007L
    def fp(tokens: List[String]): Long =
      tokens.foldLeft(0L)((acc, t) =>
        (acc * 1000003L + (t.length * 37 + t.head.toInt)) % p)
    forAllN(Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty)), 300) { ts =>
      assert(fp(ts) === fp(ts))
      assert(fp(ts) >= 0L && fp(ts) < p)
    }
  }

  test("two-round sampling hash: deterministic, in-range, roughly uniform (pure, 20k ids)") {
    def h(id: Long): Long =
      (((id + 1) * 2654435761L) % 2147483647L) * 2654435761L % 2147483629L
    val n = 20000
    val vals = (0L until n).map(h)
    assert(vals == (0L until n).map(h)) // deterministic
    assert(vals.forall(v => v >= 0 && v < 2147483629L))
    // uniformity: a 10% threshold keeps 10% ± 1.5 pp over sequential ids
    val kept = vals.count(_ < 214748362L).toDouble / n
    assert(kept > 0.085 && kept < 0.115, s"keep rate $kept")
    // and per-residue-class (the stratification failure mode round 2
    // actually hit): no id-mod-5 class may deviate grossly
    (0 until 5).foreach { r =>
      val cls = (0L until n).filter(_ % 5 == r)
      val rate = cls.count(id => h(id) < 214748362L).toDouble / cls.size
      assert(rate > 0.06 && rate < 0.14, s"class $r rate $rate")
    }
  }

  test("dedup is idempotent on a DataFrame (spark, 5 cases)") {
    forAllN(Gen.nonEmptyListOf(Gen.chooseNum(0, 5)).map(_.take(30)), 5) { xs =>
      val s = spark
      import s.implicits._
      val once = xs.toDF("v").distinct()
      assert(once.distinct().count() === once.count())
      assert(once.count() === xs.distinct.length.toLong)
    }
  }

  test("mergeUpsert(base, snapshotDiff(base, next)) == next for random snapshots (spark, 5 cases)") {
    // the CDC pair's defining identity, under arbitrary overlapping
    // key sets and values — adds/removes/changes/unchanged all arise
    val snapGen = Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0, 3)))
    forAllN(Gen.zip(snapGen, snapGen), 5) { case (oldM, newM) =>
      val s = spark
      import s.implicits._
      val base = oldM.toSeq.toDF("k", "v")
      val next = newM.toSeq.toDF("k", "v")
      val delta = Graft.snapshotDiff(base, next, "k", "v")
      val merged = Graft.mergeUpsert(base, delta, "k", "v")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(merged === newM, s"old=$oldM new=$newM delta=${delta.collect().toSeq}")
    }
  }

  test("union-distinct is commutative (spark, 5 cases)") {
    val pair = Gen.zip(Gen.listOfN(20, Gen.chooseNum(0, 8)), Gen.listOfN(20, Gen.chooseNum(0, 8)))
    forAllN(pair, 5) { case (a, b) =>
      val s = spark
      import s.implicits._
      val da = a.toDF("v"); val db = b.toDF("v")
      val ab = da.union(db).distinct().collect().map(_.getInt(0)).toSet
      val ba = db.union(da).distinct().collect().map(_.getInt(0)).toSet
      assert(ab === ba)
      assert(ab === (a.toSet ++ b.toSet))
    }
  }

  test("decimal sum is partitioning-invariant (spark, 5 cases)") {
    forAllN(Gen.nonEmptyListOf(cents).map(_.take(40)), 5) { xs =>
      val s = spark
      import s.implicits._
      val values = xs.map(_ / 100.0)
      def total(parts: Int): Double =
        values.toDF("v").repartition(parts)
          .agg(Num.dsum(col("v"))).collect()(0).getDouble(0)
      assert(total(1) === total(7))
    }
  }

  test("TopKPerKey equals the window formulation on random data (spark, 5 cases)") {
    forAllN(Gen.zip(Gen.choose(1, 6), Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 7), Gen.choose(-1000, 1000)))), 5) { case (k, rows) =>
      val s = spark
      import s.implicits._
      // unique id column as tiebreaker → total order → deterministic
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, v.toDouble, i.toLong) }
        .toDF("g", "v", "id")
      val native = graft.plans.TopKPerKey.topKPerKey(
        df, keys = Seq("g"), order = Seq(("v", true), ("id", false)), k = k)
        .select("g", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val twin = df.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("g", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(native === twin, s"k=$k")
    }
  }

  test("chunking covers every token; overlap stitches adjacent chunks") {
    import org.apache.spark.sql.functions._
    val chunks = SparkEntry.queries("q_chunk_documents")(spark, sfDir)
      .collect().groupBy(_.getLong(0))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet === docs.keySet)
    chunks.foreach { case (docId, rows) =>
      val byId = rows.sortBy(_.getLong(1))
      assert(byId.map(_.getLong(1).toInt).toSeq === byId.indices, "chunk ids must be dense")
      val toks = docs(docId).split(" ", -1)
      // stride-56 reassembly: chunk i's tokens must equal the doc's
      // slice [i*56, i*56+64) — so dropping each chunk's 8-token
      // overlap reconstructs the document exactly
      byId.foreach { r =>
        val (i, text) = (r.getLong(1).toInt, r.getString(4))
        assert(text === toks.slice(i * 56, i * 56 + 64).mkString(" "),
          s"doc $docId chunk $i mismatch")
      }
      val rebuilt = byId.flatMap { r =>
        val ts = r.getString(4).split(" ", -1)
        if (r.getLong(1) == 0L) ts else ts.drop(8)
      }
      assert(rebuilt.toSeq === toks.toSeq, s"doc $docId reassembly failed")
      rows.foreach(r => assert(r.getLong(2) >= 0L && r.getLong(2) < 8L, "shard range"))
    }
  }

  test("fuzzyMatchPairs recall law: every planted ≤2-edit variant of a long name is found (Spark, 12 pools)") {
    import spark.implicits._
    // The documented guarantee: for names of length ≥ q + maxDist·q
    // (9 at defaults) every true pair shares a rare gram and MUST
    // survive blocking — including the length-bucket join, whose
    // neighbor-explode must cover every |Δlen| ≤ 2 pair. Each case
    // plants one base name (length ≥ 11 so deletions stay ≥ 9), a
    // substitution, a deletion, and an insertion variant, plus decoy
    // names far away; all three (base, variant) pairs must appear.
    val alpha = Gen.oneOf('a' to 'j')
    val baseGen = Gen.zip(
      Gen.chooseNum(11, 16).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString)),
      Gen.chooseNum(0, 9))
    forAllN(baseGen, 12) { case (base, salt) =>
      val sub = base.updated(salt % base.length, ('k' + salt % 6).toChar)
      val del = base.take(salt % base.length) + base.drop(salt % base.length + 1)
      val ins = base.take(salt % base.length) + ('q' + salt % 5).toChar +
        base.drop(salt % base.length)
      val decoys = (0 until 6).map(i => s"zz${i}decoy${salt}xx$i")
      val names = (Seq(base, sub, del, ins) ++ decoys).distinct
        .toDF("name")
      val found = ops.TextOps.fuzzyMatchPairs(names, "name", maxDist = 2)
        .select("name_a", "name_b").as[(String, String)].collect()
        .map { case (a, b) => Set(a, b) }.toSet
      for (v <- Seq(sub, del, ins) if v != base)
        assert(found.contains(Set(base, v)),
          s"missed pair (base=$base, variant=$v); found=$found")
    }
  }

  test("fuzzyMatchPairs short-name recall: codes below q·(maxDist+1) chars still pair") {
    import spark.implicits._
    // Round-10 closure of the short-string recall hole: "abc" vs
    // "abd" sit within dist 1 yet share zero 3-grams — the unigram
    // short tier must block them anyway. Short codes across lengths
    // 3..8 at maxDist 1 and 2, plus one main-tier boundary pair
    // (max length exactly q·(maxDist+1)) and long decoys to show the
    // tiers don't depend on each other.
    val cases = Seq(
      ("abc", "abd", 1), ("abc", "abcd", 1), ("code", "mode", 1),
      ("ab1", "ab2", 1), ("shrtcd", "shrtcx", 1), ("hello", "heXlo", 1),
      ("abc", "aXY", 2), ("pqrs", "pqXY", 2),
      ("abcdefgh", "abcdefghi", 1)) // lengths 8/9: longer side is main-tier
    for ((a, b, d) <- cases) {
      val names = (Seq(a, b) ++
        Seq("longdecoyname1", "anotherdecoyxx")).toDF("name")
      val found = ops.TextOps.fuzzyMatchPairs(names, "name", maxDist = d)
        .select("name_a", "name_b").as[(String, String)].collect()
        .map { case (x, y) => Set(x, y) }.toSet
      assert(found.contains(Set(a, b)),
        s"missed short pair ($a, $b) at maxDist=$d; found=$found")
    }
    // degenerate q ≤ maxDist configuration: a disjoint-alphabet pair
    // shares NO content at all — only the all-pairs fallback can
    // block it
    val djFound = ops.TextOps
      .fuzzyMatchPairs(Seq("abc", "xyz", "longdecoyname1").toDF("name"),
        "name", maxDist = 3)
      .select("name_a", "name_b").as[(String, String)].collect()
      .map { case (x, y) => Set(x, y) }.toSet
    assert(djFound.contains(Set("abc", "xyz")),
      s"missed disjoint-alphabet pair at maxDist=3; found=$djFound")
  }

  test("FoldParseMoney rule folds literal money strings at plan time") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.FoldParseMoney
    try {
      val df = Tables.nation(spark, sfDir)
        .select(ParseMoneyExpr.parseMoneyNative(lit("R$ 1,234.50")).as("m"))
      val optimized = df.queryExecution.optimizedPlan
      val survivors = optimized.expressions.flatMap(_.collect {
        case p: ParseMoneyExpr => p
      })
      assert(survivors.isEmpty, s"expression not folded:\n$optimized")
      assert(df.head().getDouble(0) === 1234.5)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.FoldParseMoney)
    }
  }

  test("PinnedFrame: freeing the pin is safe — consumers recompute, never corrupt") {
    // the r11 safety claim that justified replacing localCheckpoint:
    // a PinnedFrame's blocks are persisted WITH lineage, so even a
    // mistimed free() (here: freeing while the frame is still live)
    // degrades to a recompute — a localCheckpoint'd frame would have
    // lost the data unrecoverably (its lineage is truncated)
    import org.apache.spark.sql.functions._
    val pin = new PinnedFrame(
      spark.range(0L, 1000L).select(col("id"), pmod(col("id"), lit(7)).as("k")))
    assert(pin.df.count() === 1000L)
    pin.free()
    // after the free, the SAME frame must still answer correctly
    assert(pin.df.count() === 1000L)
    assert(pin.df.agg(sum(col("id"))).head.getLong(0) === 499500L)
    pin.free() // idempotent
  }

  test("PinnedFrame: internal-row snapshot is value-exact across tricky types") {
    // r12 moved PinnedFrame from RDD[Row] to the executed plan's
    // InternalRow RDD (copy() + persist, re-entered via LogicalRDD).
    // The copy/wrap path must be byte-faithful for every column class
    // the repo actually pins: arrays (shingle sets, embeddings, bitmap
    // words), structs, decimals, strings, timestamps, nulls.
    import org.apache.spark.sql.functions._
    val src = spark.range(0L, 100L).select(
      col("id"),
      concat(lit("s"), col("id")).as("s"),
      array(col("id"), col("id") * 2).as("arr_l"),
      expr("transform(sequence(0, 2), i -> CAST(id * i AS DOUBLE) / 7.0)").as("arr_d"),
      struct(col("id").as("a"), concat(lit("x"), col("id")).as("b")).as("st"),
      col("id").cast("decimal(18,6)").multiply(lit(1.5)).as("dec"),
      timestamp_micros(col("id") * 1000000L + 123456L).as("ts"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("maybe"))
    val pin = new PinnedFrame(src)
    val a = src.orderBy("id").collect().toSeq
    val b = pin.df.orderBy("id").collect().toSeq
    assert(a === b, "pinned snapshot must equal its source row-for-row")
    assert(pin.df.schema === src.schema, "schema must survive the wrap")
    pin.free()
    assert(pin.df.orderBy("id").collect().toSeq === a,
      "post-free recompute must still be value-exact")
  }

  test("container parsers: spec-encoder round-trips at randomized geometry (pure)") {
    // r15 verdict #7: the planted corpus sweeps only a small dimension
    // grid (3-8 × 2-6, rates on a % 5 cycle); these round-trips push
    // the parsers across arbitrary geometry so they are spec-correct,
    // not grid-correct. PNG: any (w, h) encodes and header-reads back.
    forAllN(Gen.zip(Gen.chooseNum(1, 96), Gen.chooseNum(1, 64)), 40) { case (w, h) =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      assert(ops.Multimodal.pngHeader(bos.toByteArray) === ((w, h)))
    }
    // WAV: any (rate, n) encodes and header-reads back — and a hostile
    // suffix after the data chunk must not change the walk's answer
    def wav(rate: Int, n: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        rate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](n * 2)), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    forAllN(Gen.zip(Gen.chooseNum(4000, 96000), Gen.chooseNum(1, 3000)), 40) {
      case (rate, n) =>
        val bytes = wav(rate, n)
        assert(ops.Multimodal.wavHeader(bytes) === ((rate, n)))
        assert(ops.Multimodal.wavHeader(bytes ++ Array.fill(17)(0x5a.toByte)) ===
          ((rate, n)), "suffix bytes after the data chunk must be ignored")
    }
    // video: any (w, h, nFrames) container demuxes to its directory
    forAllN(Gen.zip(Gen.chooseNum(1, 32), Gen.chooseNum(1, 24),
      Gen.chooseNum(1, 12)), 30) { case (w, h, nf) =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      (0 until nf).foreach { _ =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val frame = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", frame)
        out.writeInt(frame.size()); frame.writeTo(out)
      }
      assert(ops.Multimodal.videoHeader(bos.toByteArray) === ((w, h, nf)))
    }
  }

  test("container parsers terminate on truncated / bit-flipped containers (pure, 240 cases)") {
    // r15 ADVICE: the unguarded video demux could SPIN on a corrupt
    // length prefix (skipBytes returns 0 at EOF) and the WAV chunk
    // walk could fail to advance on a negative size. The property is
    // TERMINATION: over random truncations and bit flips of real
    // containers, tryMeta completes — returning None (or, for
    // corruption beyond the header-only read, a value) without any
    // exception escaping and without hanging the calling task.
    def kind(id: Long): String = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(1, 9999)), 120) {
      case (id, cutSeed) =>
        val clean = ops.Multimodal.plantedMedia(id)
        val cut = clean.take(1 + cutSeed % (clean.length - 1))
        ops.Multimodal.tryMeta(kind(id), cut) // completing IS the assertion
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(0, 99999)), 120) {
      case (id, flipSeed) =>
        val b = ops.Multimodal.plantedMedia(id).clone()
        val i = flipSeed % b.length
        b(i) = (b(i) ^ (1 << (flipSeed % 8))).toByte
        ops.Multimodal.tryMeta(kind(id), b) // completing IS the assertion
    }
  }

  test("demux kernels terminate on truncated / bit-flipped clips (pure, 240 cases)") {
    // r16 verdict #3: the header parser got the guarded walk in r16
    // but the q_video_decode / q_frame_sample FRAME kernels kept
    // unguarded copies — safe on self-planted bytes, a spin (skipBytes
    // returning 0 at EOF) or a 2^31-1 allocation (unvalidated length
    // prefix) on foreign ones. Both kernels now route through
    // Multimodal.walkFrames; the property is TERMINATION: over random
    // truncations and bit flips of real clip containers, each kernel
    // either returns a value or raises — it never hangs the task and
    // never allocates from a corrupt prefix (the prefix is validated
    // against bytes-remaining before any allocation).
    def complete(b: Array[Byte]): Unit = {
      scala.util.Try(ops.Multimodal.decodeClip(b))
      scala.util.Try(ops.Multimodal.sampleClip(b))
      ()
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(1, 9999)), 120) {
      case (id, cutSeed) =>
        val clean = ops.Multimodal.plantedVideo(id)
        complete(clean.take(1 + cutSeed % (clean.length - 1)))
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(0, 99999)), 120) {
      case (id, flipSeed) =>
        val b = ops.Multimodal.plantedVideo(id).clone()
        val i = flipSeed % b.length
        b(i) = (b(i) ^ (1 << (flipSeed % 8))).toByte
        complete(b)
    }
    // the single-frame path (q_image_decode, q_media_resize) goes
    // through the same decodeFrame guard: over truncated and bit-flipped
    // images, decode + statistics + resample return or raise, never hang
    def completeFrame(b: Array[Byte]): Unit = {
      scala.util.Try(ops.Multimodal.grayStats(ops.Multimodal.decodeFrame(b).getRaster))
      scala.util.Try(ops.Multimodal.resizeNN(ops.Multimodal.decodeFrame(b), 16))
      ()
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(1, 9999)), 60) {
      case (id, cutSeed) =>
        val clean = ops.Multimodal.plantedPng(id)
        completeFrame(clean.take(1 + cutSeed % (clean.length - 1)))
    }
    forAllN(Gen.zip(Gen.chooseNum(0L, 5000L), Gen.chooseNum(0, 99999)), 60) {
      case (id, flipSeed) =>
        val b = ops.Multimodal.plantedPng(id).clone()
        val i = flipSeed % b.length
        b(i) = (b(i) ^ (1 << (flipSeed % 8))).toByte
        completeFrame(b)
    }
    // and the clean-path pin: the factored kernels reproduce the
    // planted geometry exactly (so the fuzz target IS the graded code)
    (0L until 20L).foreach { id =>
      val (nf, w, h, _, mx) = ops.Multimodal.decodeClip(
        ops.Multimodal.plantedVideo(id))
      assert(nf === ops.Multimodal.plantedFrameCount(id))
      assert(w === ops.Multimodal.plantedVideoW(id))
      assert(h === ops.Multimodal.plantedVideoH(id))
      assert(mx <= 255)
      val sampled = ops.Multimodal.sampleClip(ops.Multimodal.plantedVideo(id))
      assert(sampled.map(_._1) === (0 until nf by 2))
    }
  }
}
