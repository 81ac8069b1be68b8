package graft.ops

import graft.{Par, Q, Tables}
import java.awt.image.{BufferedImage, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Multimodal columns: media payloads as opaque `binary` columns with
  * typed decode stages. The corpus has no media, so each doc's payload
  * is planted from a deterministic spec that the DuckDB oracle
  * replays, and every decode runs a real JDK codec on real bytes:
  *  - image: a PNG, decoded by `javax.imageio`;
  *  - audio: a RIFF/WAVE PCM file, decoded by `javax.sound.sampled`;
  *  - video: a length-prefixed sequence of PNG frames (Motion-JPEG's
  *    shape: no video codec ships with the JDK, so the container is
  *    synthetic, but every frame decode is real). An image is a
  *    one-frame clip: both come from [[plantedFrame]].
  *
  * Every media query is one chain, [[mediaStage]]: plant each doc's
  * payload, then one per-partition decoder into the query's typed
  * output schema. Decoders share [[decodeFrame]] and one statistics
  * kernel, [[sumMax]]; the metadata queries read container headers
  * only and never run a codec. Payloads stay opaque through scans and
  * shuffles: only the per-partition decoder touches the bytes. Oracle
  * twins derive byte lengths from OCTET_LENGTH(ENCODE(text)), true
  * UTF-8 bytes, so parity holds for non-ASCII corpora too. */
object Multimodal {

  // ---- planted payloads: the specs the oracles replay ----

  /** Gray value at (x, y) of frame `f` of doc `id`; an image is frame 0
    * (NorthStarSpec pins doc 0's 3×2 image and 2-frame clip). */
  private[graft] def plantedGray(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 19 + x * 7 + y * 13) % 256).toInt

  private[graft] def plantedFrameCount(id: Long): Int = (2 + id % 7).toInt
  private[graft] def plantedVideoW(id: Long): Int = (3 + id % 6).toInt
  private[graft] def plantedVideoH(id: Long): Int = (2 + id % 5).toInt

  /** Frame `f` of doc `id` as an 8-bit gray PNG. PNG is lossless, so the
    * bytes carry the spec exactly. */
  private[graft] def plantedFrame(id: Long, f: Int): Array[Byte] = {
    val (w, h) = (plantedVideoW(id), plantedVideoH(id))
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setPixels(0, 0, w, h,
      Array.tabulate(w * h)(i => plantedGray(id, f, i % w, i / w)))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] def plantedPng(id: Long): Array[Byte] = plantedFrame(id, 0)

  /** Video container: `[int32-BE frame length][PNG bytes]` per frame.
    * Frame size is constant across a clip, pixel values vary per frame,
    * so a decoder that reads only the first frame, drops one, or
    * mis-orders them lands on `sum_gray`. */
  private[graft] def plantedVideo(id: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    (0 until plantedFrameCount(id)).foreach { f =>
      val png = plantedFrame(id, f)
      out.writeInt(png.length)
      out.write(png)
    }
    bos.toByteArray
  }

  /** Signed 16-bit sample `i` of doc `id`'s PCM clip (NorthStarSpec pins
    * doc 0's 20 samples). */
  private[graft] def plantedSample(id: Long, i: Int): Int =
    ((id * 17 + i * 11L) % 65536L - 32768L).toInt

  /** Sample rate 8000–16000 Hz on a % 5 cycle, coprime to the % 3 kind
    * split of [[plantedMedia]], so the audio docs there still sweep all
    * five rates and the header read stays load-bearing. */
  private[graft] def plantedRate(id: Long): Int = 8000 + (id % 5).toInt * 2000
  private[graft] def plantedLen(id: Long): Int = 20 + (id % 30).toInt

  /** Canonical 44-byte RIFF/WAVE container around 16-bit mono PCM,
    * written directly: `AudioSystem.write` gives the same layout but
    * serializes on the JVM-global audio provider registry, so a
    * synthesis stage built on it cannot run in parallel. Decoding stays
    * on `AudioSystem`: the codec is exercised on the read path. */
  private[graft] def plantedWav(id: Long): Array[Byte] = {
    val (n, rate) = (plantedLen(id), plantedRate(id))
    val b = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(rate)
      .putInt(rate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => b.putShort(plantedSample(id, i).toShort))
    b.array()
  }

  private def mediaKind(id: Long): String = (id % 3) match {
    case 0 => "image"
    case 1 => "audio"
    case _ => "video"
  }

  /** Mixed-modality payload for doc `id`, by [[mediaKind]]. */
  private[graft] def plantedMedia(id: Long): Array[Byte] = (id % 3) match {
    case 0 => plantedPng(id)
    case 1 => plantedWav(id)
    case _ => plantedVideo(id)
  }

  /** One malformation per modality, each aimed at a different guard: a
    * truncated PNG (no IHDR), a bit-flipped RIFF magic, and a video
    * directory whose first frame claims 2^31−1 bytes (the input that
    * spins a demux that does not validate its length prefix). */
  private[graft] def corruptMedia(id: Long, clean: Array[Byte]): Array[Byte] =
    (id % 3) match {
      case 0 => clean.take(10)
      case 1 => val b = clean.clone(); b(0) = (b(0) ^ 0x40).toByte; b
      case _ =>
        val b = clean.clone()
        b(0) = 0x7f.toByte; b(1) = 0xff.toByte; b(2) = 0xff.toByte; b(3) = 0xff.toByte
        b
    }

  // ---- container headers: read without running a codec ----

  private def beInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** PNG `(width, height)` from the IHDR chunk, which PNG mandates
    * first, so both sit at fixed big-endian offsets 16/20. Dimensions
    * must be positive: a bit-flipped IHDR fails here rather than flow
    * garbage geometry downstream. */
  private[graft] def pngHeader(b: Array[Byte]): (Int, Int) = {
    require(b.length >= 24 && (b(0) & 0xff) == 0x89 &&
      b(1) == 'P' && b(2) == 'N' && b(3) == 'G', "not a PNG")
    val (w, h) = (beInt(b, 16), beInt(b, 20))
    require(w > 0 && h > 0, s"corrupt IHDR dimensions ${w}x$h")
    (w, h)
  }

  /** RIFF/WAVE `(sampleRate, nSamples)` from a chunk walk: `fmt `
    * carries the rate and block align, `data`'s size / blockAlign is
    * the frame count. Chunks are word-aligned (odd sizes padded). */
  private[graft] def wavHeader(b: Array[Byte]): (Int, Int) = {
    require(b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
      b(11) == 'E', "not RIFF/WAVE")
    var o = 12; var rate = -1; var blockAlign = -1; var dataLen = -1
    while (o + 8 <= b.length && (rate < 0 || dataLen < 0)) {
      val id = new String(b, o, 4, "US-ASCII")
      val sz = leInt(b, o + 4)
      // a corrupt size can be negative, leaving the stride zero
      // (sz = -8) or negative: the walk must strictly advance or fail
      require(sz >= 0, s"corrupt chunk size $sz at offset $o")
      if (id == "fmt ") { rate = leInt(b, o + 12); blockAlign = leShort(b, o + 20) }
      else if (id == "data") dataLen = sz
      o += 8 + sz + (sz & 1)
    }
    require(rate > 0 && blockAlign > 0 && dataLen >= 0, "fmt /data chunk missing")
    (rate, dataLen / blockAlign)
  }

  /** The one demux loop over a length-prefixed frame container. Each
    * length prefix is validated before any allocation or skip: a whole
    * 4-byte prefix present, at least `minFrame` (a PNG signature plus
    * IHDR is 24 bytes) and at most the bytes that remain, so a foreign
    * payload can neither spin the walk nor make it allocate 2^31−1
    * bytes. `onFrame(frameIdx, len, stream)` returns how many of the
    * frame's bytes it consumed; the walker skips the rest and fails on
    * EOF instead of spinning. Returns the frame count. */
  private[graft] def walkFrames(b: Array[Byte], minFrame: Int)(
      onFrame: (Int, Int, DataInputStream) => Int): Int = {
    val in = new DataInputStream(new ByteArrayInputStream(b))
    var nf = 0
    while (in.available() > 0) {
      require(in.available() >= 4, s"truncated length prefix at frame $nf")
      val len = in.readInt()
      require(len >= minFrame && len <= in.available(),
        s"corrupt frame length $len at frame $nf (${in.available()} bytes remain)")
      val consumed = onFrame(nf, len, in)
      require(consumed >= 0 && consumed <= len,
        s"frame $nf kernel consumed $consumed of $len bytes")
      var toSkip = len - consumed
      while (toSkip > 0) {
        val skipped = in.skipBytes(toSkip)
        require(skipped > 0, s"unexpected EOF inside frame $nf")
        toSkip -= skipped
      }
      nf += 1
    }
    nf
  }

  /** Video `(width, height, nFrames)` from the length-prefix directory
    * plus the first frame's IHDR; no frame is decoded. */
  private[graft] def videoHeader(b: Array[Byte]): (Int, Int, Int) = {
    var w = 0; var h = 0
    val nf = walkFrames(b, 24) { (i, _, in) =>
      if (i == 0) {
        val hd = new Array[Byte](24); in.readFully(hd)
        val wh = pngHeader(hd); w = wh._1; h = wh._2
        24
      } else 0
    }
    (w, h, nf)
  }

  /** Strict header read of a payload of `kind`: `(width, height,
    * nFrames, sampleRate, nSamples)`, 0 where the modality lacks the
    * field. Fails loudly on malformed bytes. */
  private def header(kind: String, b: Array[Byte]): (Int, Int, Int, Int, Int) =
    kind match {
      case "image" => val (w, h) = pngHeader(b); (w, h, 1, 0, 0)
      case "audio" => val (r, n) = wavHeader(b); (0, 0, 0, r, n)
      case _ => val (w, h, nf) = videoHeader(b); (w, h, nf, 0, 0)
    }

  /** [[header]], or `None` on malformed bytes: a corrupt object costs one
    * null row, never the task. */
  private[graft] def tryMeta(kind: String, payload: Array[Byte])
      : Option[(Int, Int, Int, Int, Int)] =
    try Some(header(kind, payload)) catch { case NonFatal(_) => None }

  // ---- decoders and the statistics kernel ----

  /** One PNG through ImageIO. `ImageIO.read` answers null for bytes no
    * reader claims; that must raise here, not surface later as a
    * NullPointerException in a kernel. */
  private[graft] def decodeFrame(b: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(b))
    require(img != null, "undecodable frame payload")
    img
  }

  /** `(sum, max)` of samples `0 until n`: the one statistics kernel of
    * the raster and PCM decoders. */
  private def sumMax(n: Int)(sample: Int => Int): (Long, Int) = {
    var sum = 0L; var mx = Int.MinValue; var i = 0
    while (i < n) {
      val v = sample(i)
      sum += v; if (v > mx) mx = v
      i += 1
    }
    (sum, mx)
  }

  /** `(sum, max)` of band 0 over the whole raster. */
  private[graft] def grayStats(r: Raster): (Long, Int) = {
    val w = r.getWidth
    sumMax(w * r.getHeight)(i => r.getSample(i % w, i / w, 0))
  }

  /** The next `len` bytes of `in`, decoded as one frame. */
  private def frameIn(in: DataInputStream, len: Int): BufferedImage = {
    val png = new Array[Byte](len)
    in.readFully(png)
    decodeFrame(png)
  }

  /** Full decode of a clip: every frame through [[walkFrames]] and
    * [[decodeFrame]], gray sum/max folded across the clip. Returns
    * (n_frames, width, height, sum_gray, max_gray). */
  private[graft] def decodeClip(b: Array[Byte]): (Int, Int, Int, Long, Int) = {
    var w = 0; var h = 0; var sum = 0L; var mx = 0
    val nf = walkFrames(b, 24) { (_, len, in) =>
      val img = frameIn(in, len)
      val (s, m) = grayStats(img.getRaster)
      w = img.getWidth; h = img.getHeight; sum += s; mx = math.max(mx, m)
      len
    }
    (nf, w, h, sum, mx)
  }

  /** Every-2nd-frame sampling of a clip: even frames decode, odd frames
    * are skipped by the demux without touching the codec. Returns one
    * (frame_id, width, height, sum_gray, max_gray) per sampled frame. */
  private[graft] def sampleClip(
      b: Array[Byte]): Seq[(Int, Int, Int, Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Long, Int)]()
    walkFrames(b, 24) { (f, len, in) =>
      if (f % 2 == 0) {
        val img = frameIn(in, len)
        val (sum, mx) = grayStats(img.getRaster)
        out += ((f, img.getWidth, img.getHeight, sum, mx))
        len
      } else 0
    }
    out.toSeq
  }

  /** Pixel-center nearest-neighbor resample fitting the larger side to
    * `box` px. The source index is exact integer arithmetic,
    * `(2·o+1)·src / (2·out)` truncated, i.e. the floor of the
    * inverse-mapped destination pixel center. Not `AffineTransformOp`:
    * its nearest-neighbor path steps a 16.16 fixed-point increment that
    * drifts off the center map (4×6 → 10×16 samples source column 0 for
    * destination column 2, where the center 1.0 says column 1), so its
    * output depends on the JDK build. The exact map is reproducible on
    * every executor, and the oracle replays it in integer SQL. */
  private[graft] def resizeNN(img: BufferedImage, box: Int): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val m = math.max(w, h)
    val (ow, oh) = (w * box / m, h * box / m)
    val out = new BufferedImage(ow, oh, BufferedImage.TYPE_BYTE_GRAY)
    val src = img.getRaster
    val dst = out.getRaster
    var oy = 0
    while (oy < oh) {
      val sy = (2 * oy + 1) * h / (2 * oh)
      var ox = 0
      while (ox < ow) {
        dst.setSample(ox, oy, 0, src.getSample((2 * ox + 1) * w / (2 * ow), sy, 0))
        ox += 1
      }
      oy += 1
    }
    out
  }

  // ---- the media chain ----

  private val payloadSchema = StructType.fromDDL("doc_id BIGINT, payload BINARY")

  /** The media chain: each doc's `(doc_id, payload)` row from `plant`,
    * then `decode` of that row into rows of `out`. The two stages fuse
    * into one task and hand the planted rows over as objects, so
    * `decode` reads them by position. `fanOut` spreads the one-file
    * documents scan over the session ([[graft.Par.fanOut]]) and is fixed
    * per query. `ImageIO.setUseCache(false)` keeps ImageIO's streams in
    * memory instead of spooling them through a temp file; the flag is
    * JVM-global, so every call after the first is a no-op. */
  private def mediaStage(s: SparkSession, d: String, out: StructType,
                         fanOut: Boolean = true)(plant: Long => Array[Byte])(
      decode: Row => IterableOnce[Row]): DataFrame = {
    def stage(df: DataFrame, schema: StructType)(f: Iterator[Row] => Iterator[Row]) =
      df.mapPartitions { rows => ImageIO.setUseCache(false); f(rows) }(
        RowEncoder.encoderFor(schema))
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val planted = stage(if (fanOut) Par.fanOut(ids, "doc_id") else ids, payloadSchema)(
      _.map { r => val id = r.getLong(0); Row(id, plant(id)) })
    stage(planted, out)(_.flatMap(decode))
  }

  /** Per-object metadata without decode: PNG IHDR, the RIFF/WAVE chunk
    * walk, the video length-prefix directory plus first-frame IHDR.
    * Metadata over a large media corpus must read a few dozen header
    * bytes per object, never inflate payloads. The corpus mixes kinds by
    * `doc_id % 3`, so every parser runs in every partition. The oracle
    * replays the planted specs, so a wrong endianness, a mis-walked
    * chunk or an IHDR offset slip lands on the hash. */
  val qMediaMeta = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, media_type STRING, width INT, height INT, " +
        "n_frames INT, sample_rate INT, n_samples INT"))(plantedMedia) { r =>
      val id = r.getLong(0)
      val kind = mediaKind(id)
      val (w, h, nf, rate, n) = header(kind, r.getAs[Array[Byte]](1))
      Some(Row(id, kind, w, h, nf, rate, n))
    }.orderBy(col("doc_id")),
    """SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 3 + doc_id % 6 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 2 + doc_id % 5 END AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 2 + doc_id % 7 END AS INT) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE 0 END AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 20 + doc_id % 30 ELSE 0 END AS INT) AS n_samples
       FROM documents ORDER BY doc_id""")

  /** [[qMediaMeta]] over a corpus where every doc with `doc_id % 97 == 0`
    * carries a [[corruptMedia]] payload. The job survives: a corrupt
    * object yields `ok = false` and null fields, where the strict query
    * fails the task. The corrupt count is a `Dataset.observe` metric
    * (`media_badrec.n_corrupt`), so an ingest gets corruption telemetry,
    * not just silent nulls. The oracle replays which rows are corrupt,
    * so a parser that reads a corrupt object as valid, or drops a valid
    * one, lands on the hash. */
  val qMediaMetaPermissive = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, media_type STRING, ok BOOLEAN, width INT, " +
        "height INT, n_frames INT, sample_rate INT, n_samples INT")) { id =>
      val clean = plantedMedia(id)
      if (id % 97 == 0) corruptMedia(id, clean) else clean
    } { r =>
      val id = r.getLong(0)
      val kind = mediaKind(id)
      Some(tryMeta(kind, r.getAs[Array[Byte]](1)) match {
        case Some((w, h, nf, rate, n)) => Row(id, kind, true, w, h, nf, rate, n)
        case None => Row(id, kind, false, null, null, null, null, null)
      })
    }.orderBy(col("doc_id"))
      // observe ABOVE the global sort: RangePartitioner's boundary
      // sampling re-executes the sort's child, so a CollectMetrics
      // below it fires twice and double-counts
      .observe("media_badrec",
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_corrupt")),
    """SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       doc_id % 97 <> 0 AS ok,
       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL WHEN doc_id % 3 = 1 THEN 0 ELSE 3 + doc_id % 6 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL WHEN doc_id % 3 = 1 THEN 0 ELSE 2 + doc_id % 5 END AS INT) AS height,
       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 2 + doc_id % 7 END END AS INT) AS n_frames,
       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 2000 ELSE 0 END AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 97 = 0 THEN NULL WHEN doc_id % 3 = 1 THEN 20 + doc_id % 30 ELSE 0 END AS INT) AS n_samples
       FROM documents ORDER BY doc_id""")

  /** Every 2nd frame of each clip decoded ([[sampleClip]]); sampled-out
    * frames are skipped at the container level, which is the economics
    * of frame sampling: the demux walks cheap length prefixes and the
    * decode runs only on the kept fraction. The oracle replays the even
    * frames, so a wrong skip or an off-by-one frame id lands on
    * `sum_gray`/`frame_id`. The 2–8 frame clips sample 1–4 frames each,
    * so both paths run on every row. */
  val qFrameSample = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, frame_id INT, frame_offset_ms INT, width INT, " +
        "height INT, sum_gray BIGINT, max_gray INT"))(plantedVideo) { r =>
      val id = r.getLong(0)
      sampleClip(r.getAs[Array[Byte]](1)).map { case (f, w, h, sum, mx) =>
        Row(id, f, f * 40, w, h, sum, mx)
      }
    }.orderBy(col("doc_id"), col("frame_id")),
    // same vectorized grid expansion as q_video_decode's oracle,
    // filtered to even frame ids and grouped per (doc, frame)
    """SELECT d.doc_id,
       CAST(f AS INT) AS frame_id,
       CAST(f * 40 AS INT) AS frame_offset_ms,
       CAST(3 + d.doc_id % 6 AS INT) AS width,
       CAST(2 + d.doc_id % 5 AS INT) AS height,
       CAST(SUM((d.doc_id * 31 + f * 19 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_gray,
       CAST(MAX((d.doc_id * 31 + f * 19 + x * 7 + y * 13) % 256) AS INT) AS max_gray
       FROM documents d,
            UNNEST(RANGE(0, 8)) AS tf(f),
            UNNEST(RANGE(0, 8)) AS t1(x),
            UNNEST(RANGE(0, 6)) AS t2(y)
       WHERE f < 2 + d.doc_id % 7 AND f % 2 = 0
         AND x < 3 + d.doc_id % 6 AND y < 2 + d.doc_id % 5
       GROUP BY d.doc_id, f ORDER BY d.doc_id, frame_id""")

  /** The decoded PNG resampled into a 16 px box by [[resizeNN]]:
    * upscale factors 2–8× on the planted 3–8 × 2–6 rasters, so every
    * output pixel is a real resample. The oracle replays the planted
    * spec at the exact integer sample map, so a decoder slip or a
    * resampler off-by-one lands on `sum_gray`. */
  val qMediaResize = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, in_w INT, in_h INT, out_w INT, out_h INT, " +
        "sum_gray BIGINT, max_gray INT"))(plantedPng) { r =>
      val img = decodeFrame(r.getAs[Array[Byte]](1))
      val rz = resizeNN(img, 16)
      val (sum, mx) = grayStats(rz.getRaster)
      Some(Row(r.getLong(0), img.getWidth, img.getHeight, rz.getWidth, rz.getHeight, sum, mx))
    }.orderBy(col("doc_id")),
    // the planted gray spec evaluated at the exact integer sample map
    // (2o+1)·src // (2·out), over one constant 16×16 grid filtered to
    // each doc's true output raster — same vectorized-grid shape as
    // q_video_decode's oracle
    """SELECT d.doc_id,
       CAST(w AS INT) AS in_w, CAST(h AS INT) AS in_h,
       CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
       CAST(SUM((d.doc_id * 31 + ((2 * x + 1) * w // (2 * ow)) * 7
                 + ((2 * y + 1) * h // (2 * oh)) * 13) % 256) AS BIGINT) AS sum_gray,
       CAST(MAX((d.doc_id * 31 + ((2 * x + 1) * w // (2 * ow)) * 7
                 + ((2 * y + 1) * h // (2 * oh)) * 13) % 256) AS INT) AS max_gray
       FROM (SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
               (3 + doc_id % 6) * 16 // GREATEST(3 + doc_id % 6, 2 + doc_id % 5) AS ow,
               (2 + doc_id % 5) * 16 // GREATEST(3 + doc_id % 6, 2 + doc_id % 5) AS oh
             FROM documents) d,
            UNNEST(RANGE(0, 16)) AS t1(x), UNNEST(RANGE(0, 16)) AS t2(y)
       WHERE x < ow AND y < oh
       GROUP BY d.doc_id, w, h, ow, oh ORDER BY d.doc_id""")

  /** Multimodal struct packing: text + vector + metadata in one row,
    * nested as a struct column, then projected back out (exercises
    * nested-type construction and field pruning). */
  val qMultimodalPack = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vecs = Tables.embeddings(s, d)
      docs.join(vecs, col("doc_id") === col("vec_id"))
        .withColumn("record", struct(
          struct(col("lang"), col("source"), col("n_chars")).as("meta"),
          col("text").cast("binary").as("payload"),
          col("embedding").as("vector"),
          col("label").as("cls")))
        .select(
          col("doc_id"),
          col("record.meta.lang").as("lang"),
          col("record.cls").as("label"),
          length(col("record.payload")).as("payload_bytes"),
          size(col("record.vector")).as("dim"))
        .orderBy(col("doc_id"))
    },
    """SELECT doc_id, lang, label, CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS payload_bytes,
       LEN(embedding) AS dim
       FROM documents JOIN embeddings ON doc_id = vec_id
       ORDER BY doc_id""")

  /** PNG decode: dimensions and raster statistics of each doc's image.
    * The oracle recomputes them from the planted spec, so a mis-decoded
    * stride, channel or bit depth lands on `sum_gray`. */
  val qImageDecode = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, width INT, height INT, n_px INT, " +
        "sum_gray BIGINT, max_gray INT"))(plantedPng) { r =>
      val img = decodeFrame(r.getAs[Array[Byte]](1))
      val (w, h) = (img.getWidth, img.getHeight)
      val (sum, mx) = grayStats(img.getRaster)
      Some(Row(r.getLong(0), w, h, w * h, sum, mx))
    }.orderBy(col("doc_id")),
    """SELECT doc_id,
       CAST(3 + doc_id % 6 AS INT) AS width,
       CAST(2 + doc_id % 5 AS INT) AS height,
       CAST((3 + doc_id % 6) * (2 + doc_id % 5) AS INT) AS n_px,
       (SELECT CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
          FROM UNNEST(RANGE(0, 3 + doc_id % 6)) AS t1(x),
               UNNEST(RANGE(0, 2 + doc_id % 5)) AS t2(y)) AS sum_gray,
       (SELECT CAST(MAX((doc_id * 31 + x * 7 + y * 13) % 256) AS INT)
          FROM UNNEST(RANGE(0, 3 + doc_id % 6)) AS t1(x),
               UNNEST(RANGE(0, 2 + doc_id % 5)) AS t2(y)) AS max_gray
       FROM documents ORDER BY doc_id""")

  /** WAV decode through `AudioSystem.getAudioInputStream`: header
    * fields plus PCM sample statistics. Rates vary per doc, so the
    * header read is load-bearing; a wrong endianness, bit depth or frame
    * size lands on `sum_amp`. No fan-out: `AudioSystem` looks up its
    * providers under a JVM-global lock on every call, so parallel decode
    * tasks serialize on it and the extra exchange is pure cost. */
  val qAudioDecode = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, sample_rate INT, n_samples INT, " +
        "sum_amp BIGINT, max_amp INT"), fanOut = false)(plantedWav) { r =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      val n = ais.getFrameLength.toInt
      val pcm = ais.readAllBytes()
      // 16-bit signed little-endian mono, as the header declares
      val (sum, mx) = sumMax(n)(i => (pcm(i * 2 + 1) << 8) | (pcm(i * 2) & 0xff))
      Some(Row(r.getLong(0), math.round(ais.getFormat.getSampleRate), n, sum, mx))
    }.orderBy(col("doc_id")),
    """SELECT doc_id,
       CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
       CAST(20 + doc_id % 30 AS INT) AS n_samples,
       (SELECT CAST(SUM((doc_id * 17 + i * 11) % 65536 - 32768) AS BIGINT)
          FROM UNNEST(RANGE(0, 20 + doc_id % 30)) AS t(i)) AS sum_amp,
       (SELECT CAST(MAX((doc_id * 17 + i * 11) % 65536 - 32768) AS INT)
          FROM UNNEST(RANGE(0, 20 + doc_id % 30)) AS t(i)) AS max_amp
       FROM documents ORDER BY doc_id""")

  /** Full clip decode ([[decodeClip]]): frame count, dimensions and
    * whole-clip raster statistics. The oracle recomputes them from the
    * planted per-frame spec, so a dropped frame, a first-frame-only
    * shortcut or a mis-read stride lands on `n_frames`/`sum_gray`. */
  val qVideoDecode = Q(
    (s, d) => mediaStage(s, d,
      StructType.fromDDL("doc_id BIGINT, n_frames INT, width INT, height INT, " +
        "n_px_total INT, sum_gray BIGINT, max_gray INT"))(plantedVideo) { r =>
      val (nf, w, h, sum, mx) = decodeClip(r.getAs[Array[Byte]](1))
      Some(Row(r.getLong(0), nf, w, h, nf * w * h, sum, mx))
    }.orderBy(col("doc_id")),
    // one constant-range expansion (8x8x6 = 384 cells/doc) filtered to
    // each clip's true frame x raster grid, then a vectorized group-by
    // — NOT correlated per-doc scalar subqueries, which DuckDB executes
    // as a nested loop (measured pathological at sf0.1)
    """SELECT d.doc_id,
       CAST(2 + d.doc_id % 7 AS INT) AS n_frames,
       CAST(3 + d.doc_id % 6 AS INT) AS width,
       CAST(2 + d.doc_id % 5 AS INT) AS height,
       CAST((2 + d.doc_id % 7) * (3 + d.doc_id % 6) * (2 + d.doc_id % 5) AS INT) AS n_px_total,
       CAST(SUM((d.doc_id * 31 + f * 19 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_gray,
       CAST(MAX((d.doc_id * 31 + f * 19 + x * 7 + y * 13) % 256) AS INT) AS max_gray
       FROM documents d,
            UNNEST(RANGE(0, 8)) AS tf(f),
            UNNEST(RANGE(0, 8)) AS t1(x),
            UNNEST(RANGE(0, 6)) AS t2(y)
       WHERE f < 2 + d.doc_id % 7 AND x < 3 + d.doc_id % 6 AND y < 2 + d.doc_id % 5
       GROUP BY d.doc_id ORDER BY d.doc_id""")

  val defs: Map[String, Q] = Map(
    "q_media_meta" -> qMediaMeta,
    "q_media_meta_permissive" -> qMediaMetaPermissive,
    "q_media_resize" -> qMediaResize,
    "q_frame_sample" -> qFrameSample,
    "q_multimodal_pack" -> qMultimodalPack,
    "q_image_decode" -> qImageDecode,
    "q_audio_decode" -> qAudioDecode,
    "q_video_decode" -> qVideoDecode)
}
