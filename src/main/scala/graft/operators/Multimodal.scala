package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star, BASELINE.json:6).
  *
  * Media rows are (id, payload: binary, meta) — the payload stays opaque to
  * the engine; decode/feature-extract runs as a per-partition batch
  * transform so (a) codec init cost amortizes over a partition, (b) bytes
  * never leave the executor that read them, (c) the operator pipelines with
  * any downstream DataFrame op. This mirrors how Pandas-UDF/mapInPandas
  * pipelines batch media work in PySpark, expressed natively in Scala via
  * `mapPartitions` over a typed Dataset.
  *
  * The decode path is REAL for PPM (P6) payloads — full header parse
  * (magic, comments, dims, maxval) and pixel statistics over the raw RGB
  * plane — exercised against deterministically synthesized images, since
  * this container ships no JPEG/PNG codec. Non-PPM payloads fall back to
  * `decodeStub`, a clearly-marked deterministic fake; swapping in a JNI
  * image codec changes only that function body.
  */
object Multimodal {

  case class MediaRow(media_id: Long, payload: Array[Byte], kind: String)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, brightness: Double)

  // ---- real decoder: PPM (P6) ----

  /** The one P6 header parser: magic at `start`, #-comments, width /
    * height / maxval tokens (at most 9 digits each, so no token overflows
    * an Int), one whitespace byte, then the w·h·3-byte pixel plane.
    * Returns (width, height, maxval, offset of the plane) when the payload
    * is a well-formed 8-bit P6 whose plane fits; None otherwise —
    * including maxval > 255 (16-bit samples are 2 bytes each; reading
    * them 1-byte would silently halve the pixel plane), a truncated pixel
    * plane, or dims whose plane size overflows. */
  private def p6Header(p: Array[Byte], start: Int): Option[(Int, Int, Int, Int)] = {
    var i = start
    def skipWsAndComments(): Unit = {
      var more = true
      while (more && i < p.length) {
        val c = p(i).toChar
        if (c == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else more = false
      }
    }
    def readInt(): Option[Int] = {
      skipWsAndComments()
      val s = i
      while (i < p.length && p(i) >= '0' && p(i) <= '9') i += 1
      if (i == s || i - s > 9) None
      else Some(new String(p, s, i - s, "US-ASCII").toInt)
    }
    if (p.length - start < 2 || p(start) != 'P' || p(start + 1) != '6') return None
    i = start + 2
    for {
      w <- readInt()
      h <- readInt()
      maxval <- readInt()
      if w > 0 && h > 0 && maxval > 0 && maxval <= 255
      if i < p.length && p(i).toChar.isWhitespace
      if 3L * w * h <= p.length - i - 1 // Long: 9-digit dims overflow Int
    } yield (w, h, maxval, i + 1)
  }

  /** Sum of the unsigned bytes in [from, until). */
  private def byteSum(p: Array[Byte], from: Int, until: Int): Long = {
    var acc = 0L
    var j = from
    while (j < until) { acc += (p(j) & 0xff); j += 1 }
    acc
  }

  /** Parse a binary PPM (P6) ([[p6Header]]) and return (width, height,
    * mean brightness in [0,1]), or None if the payload is not a
    * well-formed 8-bit P6. */
  def decodePpm(p: Array[Byte]): Option[(Int, Int, Double)] =
    p6Header(p, 0).map { case (w, h, maxval, at) =>
      val n = 3 * w * h // fits an Int: p6Header checked it against p.length
      (w, h, byteSum(p, at, at + n).toDouble / n / maxval)
    }

  // ---- multi-frame ("video") payloads: concatenated P6 frames ----

  /** Parse one P6 frame starting at `start`; returns (w, h, pixel-byte sum,
    * offset past the frame) or None. Keeps the EXACT integer pixel sum so
    * downstream statistics can defer the single lossy division to the very
    * end (cross-engine hash safety). */
  private def decodeP6At(p: Array[Byte], start: Int): Option[(Int, Int, Long, Int)] =
    p6Header(p, start).map { case (w, h, _, at) =>
      val end = at + 3 * w * h
      (w, h, byteSum(p, at, end), end)
    }

  /** Nearest-neighbor 2× downsample statistics: keep pixels at even
    * (row, col), report resized dims + exact sampled-pixel sum. The
    * sampling is pure index arithmetic over the raw plane — no resampled
    * image is materialized, which is exactly what a feature-extraction
    * pipeline wants (the resize output feeds statistics, not storage).
    * Returns (resized w, resized h, sampled-channel sum). */
  def resizeHalfStats(p: Array[Byte]): Option[(Int, Int, Long)] =
    decodeP6At(p, 0).map { case (w, h, _, end) =>
      val dataStart = end - 3 * w * h
      val rw = (w + 1) / 2
      val rh = (h + 1) / 2
      var acc = 0L
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          val base = dataStart + (r * w + c) * 3
          acc += (p(base) & 0xff) + (p(base + 1) & 0xff) + (p(base + 2) & 0xff)
          c += 2
        }
        r += 2
      }
      (rw, rh, acc)
    }

  case class ResizedFeatures(media_id: Long, rw: Int, rh: Int,
      brightness: Double)

  /** Partition-batched decode+resize over a PPM media lake. */
  def resizeAll(media: Dataset[MediaRow]): Dataset[ResizedFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      resizeHalfStats(r.payload).map { case (rw, rh, acc) =>
        ResizedFeatures(r.media_id, rw, rh,
          acc.toDouble / (rw.toLong * rh * 3) / 255.0)
      }
    })
  }

  case class PhashRow(media_id: Long, ahash: Int)

  /** Quadrant average-hash over the P6 gray plane: bit q (0..3) is set iff
    * quadrant q's mean channel value exceeds the whole image's mean. The
    * quadrant split is (r >= h/2, c >= w/2) with integer division, and the
    * mean comparison is integer cross-multiplication — no floats anywhere,
    * so the hash is exact and trivially engine-portable. This is the
    * classic aHash recipe at 2×2 instead of 8×8 (these synthetic images
    * are 4–8 px wide; a real media lake would resample to 8×8 first, with
    * identical plumbing and a 64-bit hash). */
  def ahashQuad(p: Array[Byte]): Option[Int] =
    decodeP6At(p, 0).map { case (w, h, total, end) =>
      val dataStart = end - 3 * w * h
      val sums = new Array[Long](4)
      val cnts = new Array[Long](4)
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          val base = dataStart + (r * w + c) * 3
          val g = (p(base) & 0xff) + (p(base + 1) & 0xff) + (p(base + 2) & 0xff)
          val q = (if (r >= h / 2) 2 else 0) + (if (c >= w / 2) 1 else 0)
          sums(q) += g
          cnts(q) += 1
          c += 1
        }
        r += 1
      }
      val nTotal = w.toLong * h
      var hash = 0
      var q = 0
      while (q < 4) {
        // mean_q > mean_total  ⇔  sums(q)·nTotal > total·cnts(q)
        if (sums(q) * nTotal > total * cnts(q)) hash |= (1 << q)
        q += 1
      }
      hash
    }

  /** Partition-batched perceptual hashing over a PPM media lake. */
  def ahashAll(media: Dataset[MediaRow]): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      ahashQuad(r.payload).map(h => PhashRow(r.media_id, h))
    })
  }

  /** All frames of a concatenated-P6 payload with their raw pixel planes
    * (w, h, plane bytes) in order; stops at the first malformed frame.
    * The plane slice ends at the parse's reported end offset, so a header
    * bug shifts every later frame and breaks downstream hashes. */
  def decodeFramePlanes(p: Array[Byte]): Vector[(Int, Int, Array[Byte])] = {
    val out = Vector.newBuilder[(Int, Int, Array[Byte])]
    var off = 0
    var ok = true
    while (ok && off < p.length) decodeP6At(p, off) match {
      case Some((w, h, _, end)) =>
        out += ((w, h, java.util.Arrays.copyOfRange(p, end - 3 * w * h, end)))
        off = end
      case None => ok = false
    }
    out.result()
  }

  /** All frames of a concatenated-P6 payload (w, h, pixel sum) in order;
    * stops at the first malformed frame. */
  def decodeFrames(p: Array[Byte]): Vector[(Int, Int, Long)] = {
    val out = Vector.newBuilder[(Int, Int, Long)]
    var off = 0
    var ok = true
    while (ok && off < p.length) decodeP6At(p, off) match {
      case Some((w, h, sum, end)) => out += ((w, h, sum)); off = end
      case None => ok = false
    }
    out.result()
  }

  /** Deterministic synthetic multi-frame payload: 2 + id%4 frames with
    * per-video dims; pixel byte = (id·31 + f·13 + i·7) mod 256 — every
    * byte reproducible, so the oracle can recompute frame statistics
    * analytically from this formula. */
  def synthVideo(id: Long): Array[Byte] = {
    val w = 4 + (id % 5).toInt
    val h = 3 + (id % 4).toInt
    val nFrames = 2 + (id % 4).toInt
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      bos.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
      val px = new Array[Byte](w * h * 3)
      var i = 0
      while (i < px.length) {
        px(i) = ((id * 31 + f * 13 + i * 7) % 256).toByte; i += 1
      }
      bos.write(px)
      f += 1
    }
    bos.toByteArray
  }

  case class SceneCuts(media_id: Long, n_frames: Int, n_cuts: Int,
      max_delta: Double)

  /** Scene-cut detection over a multi-frame payload: a cut is an adjacent
    * frame pair whose mean-brightness delta exceeds 5% of full scale. The
    * comparison is exact-integer cross-multiplied (|Δsum|·20 > plane·255
    * ⇔ |Δmean| > 5%), so the cut count is engine-exact; only the reported
    * max delta takes one final division (trunc4'd, same op order as the
    * oracle).
    *
    * Precondition: all frames in a payload share the head frame's
    * dimensions (every Δmean is normalized by ONE plane size). A payload
    * with mid-stream dimension changes is rejected loudly rather than
    * silently mis-normalizing the cut threshold (ADVICE r7). */
  def sceneCuts(media: Dataset[MediaRow]): Dataset[SceneCuts] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val frames = decodeFrames(r.payload)
      if (frames.size < 2) None
      else {
        require(frames.forall(fr =>
          fr._1 == frames.head._1 && fr._2 == frames.head._2),
          s"scene_cuts: media ${r.media_id} changes frame dims mid-stream " +
            s"(head ${frames.head._1}x${frames.head._2}); constant dims " +
            "are assumed by the single-plane normalization")
        val plane = frames.head._1.toLong * frames.head._2 * 3
        val deltas = frames.map(_._3).sliding(2)
          .map { case Vector(a, b) => math.abs(b - a) }.toVector
        val cuts = deltas.count(d => d * 20L > plane * 255L)
        val maxD = deltas.max.toDouble / (plane * 255L)
        Some(SceneCuts(r.media_id, frames.size, cuts,
          math.floor(maxD * 10000) / 10000.0))
      }
    })
  }

  case class VideoFeatures(media_id: Long, n_frames: Int, n_sampled: Int,
      brightness: Double)

  /** Frame sampling: decode every `every`-th frame (0, every, 2·every, …),
    * per-partition batches. Mean brightness over the sampled frames is
    * computed from exact integer pixel sums with ONE final division —
    * deterministic across partitionings and engines. */
  def sampleFrames(media: Dataset[MediaRow], every: Int): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val frames = decodeFrames(r.payload)
      val sampled = frames.zipWithIndex.collect {
        case (fr, idx) if idx % every == 0 => fr
      }
      val nPx = sampled.map { case (w, h, _) => 3L * w * h }.sum
      val sum = sampled.map(_._3).sum
      VideoFeatures(r.media_id, frames.size, sampled.size,
        if (nPx == 0) 0.0 else sum.toDouble / (nPx * 255L))
    })
  }

  /** Media lake of synthesized multi-frame payloads keyed by doc_id. */
  def videosFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, synthVideo(id), "video")))
  }

  // ---- audio: minimal RIFF/WAVE PCM ----

  case class AudioFeatures(media_id: Long, sample_rate: Int, n_samples: Int,
      mean_abs: Double)

  private def le16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
  private def le32(p: Array[Byte], off: Int): Int =
    le16(p, off) | (le16(p, off + 2) << 16)

  /** The one WAV header check: RIFF/WAVE magics, a 16-byte "fmt " chunk
    * of mono 16-bit PCM, then a "data" chunk whose little-endian samples
    * start at byte 44 and fit in the payload — exactly the canonical
    * 44-byte-header layout synthWav emits (real decoders handle more
    * chunk orders). Returns (sample rate, sample count) or None. */
  private def wavHeader(p: Array[Byte]): Option[(Int, Int)] = {
    def ascii(off: Int, s: String): Boolean =
      p.length >= off + s.length && s.indices.forall(i => p(off + i) == s(i).toByte)
    if (p.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE") ||
      !ascii(12, "fmt ") || le32(p, 16) != 16 || le16(p, 20) != 1 /* PCM */ ||
      le16(p, 22) != 1 /* mono */ || le16(p, 34) != 16 /* bits */ ||
      !ascii(36, "data")) None
    else {
      val dataLen = le32(p, 40)
      if (dataLen < 0 || dataLen % 2 != 0 || p.length - 44 < dataLen) None
      else Some((le32(p, 24), dataLen / 2))
    }
  }

  /** Decode a canonical WAV payload ([[wavHeader]]): the exact integer
    * |amplitude| sum over its samples, as mean_abs. The parse is a true
    * byte-level parse — any offset/endianness bug changes mean_abs and
    * breaks the oracle hash. */
  def decodeWav(p: Array[Byte]): Option[AudioFeatures] =
    wavHeader(p).map { case (rate, n) =>
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += math.abs(le16(p, 44 + 2 * i).toShort.toInt) // sign-extend
        i += 1
      }
      AudioFeatures(-1L, rate, n,
        if (n == 0) 0.0 else acc.toDouble / (n.toLong * 1024L))
    }

  /** Deterministic synthetic WAV: mono 16-bit PCM, 8 kHz, 64 + id%64
    * samples, sample[i] = (id·37 + i·11) mod 2048 − 1024. */
  def synthWav(id: Long): Array[Byte] = {
    val n = 64 + (id % 64).toInt
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(8000 * 2) // rate, byte rate
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      buf.putShort((((id * 37 + i * 11) % 2048) - 1024).toShort); i += 1
    }
    buf.array()
  }

  /** Per-partition batched audio decode over synthesized WAV payloads. */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeWav(r.payload).map(_.copy(media_id = r.media_id))
    })
  }

  case class AudioEnergy(media_id: Long, n_windows: Int, n_active: Int,
      max_run: Int, active_frac: Double)

  /** Windowed energy segmentation (the voice-activity-detection primitive
    * an audio curation pipeline filters and chunks by): split the PCM
    * stream into full `win`-sample windows, mark a window ACTIVE when its
    * |amplitude| sum exceeds `thrPerSample * win` — a pure integer compare,
    * so the active/silent cut is bit-exact in any engine — and report
    * window counts plus the longest consecutive active run (the longest
    * speech burst). Trailing partial windows are dropped (both engines
    * agree on n/win full windows). The single division (active fraction)
    * is trunc4'd last. */
  def audioEnergy(media: Dataset[MediaRow], win: Int = 16,
      thrPerSample: Long = 512L): Dataset[AudioEnergy] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeWavSamples(r.payload).map { samples =>
        val nw = samples.length / win
        var active = 0; var run = 0; var maxRun = 0
        var w = 0
        while (w < nw) {
          var s = 0L; var i = 0
          while (i < win) { s += math.abs(samples(w * win + i).toLong); i += 1 }
          if (s > thrPerSample * win) { active += 1; run += 1
            if (run > maxRun) maxRun = run
          } else run = 0
          w += 1
        }
        AudioEnergy(r.media_id, nw, active, maxRun,
          if (nw == 0) 0.0
          else math.floor(active.toDouble / nw * 10000) / 10000.0)
      }
    })
  }

  /** Raw sample view of the canonical WAV layout `decodeWav` accepts. */
  def decodeWavSamples(p: Array[Byte]): Option[Array[Short]] =
    wavHeader(p).map { case (_, n) =>
      Array.tabulate(n)(i => le16(p, 44 + 2 * i).toShort)
    }

  /** Audio lake of synthesized WAV payloads keyed by doc_id. */
  def audioFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, synthWav(id), "wav")))
  }

  /** Deterministic synthetic P6 payload (no codec libs in the container, so
    * the fixture generator lives here): dims derived from the id, pixel
    * bytes from a (id, offset) formula — every byte reproducible. */
  def synthPpm(id: Long): Array[Byte] = {
    val w = 4 + (id % 5).toInt
    val h = 3 + (id % 4).toInt
    val header = s"P6\n# graft synthetic $id\n$w $h\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) { px(i) = ((id * 31 + i * 7) % 256).toByte; i += 1 }
    header ++ px
  }

  /** STUB decode for payload kinds with no in-container codec — a
    * deterministic fake standing in for e.g. a JNI JPEG decoder. */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val n = r.payload.length
    var acc = 0L
    var i = 0
    while (i < n) { acc += (r.payload(i) & 0xff); i += 1 }
    MediaFeatures(r.media_id, r.kind, n,
      width = n % 640, height = (n * 7) % 480, n_frames = n % 30 + 1,
      brightness = if (n == 0) 0.0 else acc.toDouble / n / 255.0)
  }

  /** Dispatching decode: real PPM parse when the magic matches, stub
    * otherwise. */
  def decode(r: MediaRow): MediaFeatures = decodePpm(r.payload) match {
    case Some((w, h, bright)) =>
      MediaFeatures(r.media_id, r.kind, r.payload.length, w, h, 1, bright)
    case None => decodeStub(r)
  }

  /** Partition-batched decode: one decoder instance per partition. */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real impl: val codec = Codec.open() — once per partition
      rows.map(decode)
    }
  }

  /** Build a media Dataset from the documents table (payload = utf8 bytes),
    * the container-testable stand-in for a real media lake scan. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        col("text").cast(BinaryType).as("payload"),
        col("lang").as("kind"))
      .as[MediaRow]
  }

  /** Parse a P6 payload ([[p6Header]]) down to its raw pixel plane:
    * (width, height, plane bytes), for kernel-based features (Laplacian
    * sharpness, channel stats). */
  def pixelPlane(p: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    p6Header(p, 0).map { case (w, h, _, at) =>
      (w, h, java.util.Arrays.copyOfRange(p, at, at + 3 * w * h))
    }

  /** A media lake of synthesized PPM images keyed by doc_id — payloads are
    * generated executor-side inside the scan's mapPartitions, so nothing is
    * collected or broadcast. */
  def mediaFromPpm(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRow(id, synthPpm(id), "ppm")))
  }

  // ---- 16-bin byte histogram (distribution features) ----

  case class HistRow(media_id: Long, n_pix: Long, bins: Seq[Long])

  /** EXACT 16-bin histogram over a P6 pixel plane (bin = byte >> 4);
    * counts are integers, so every downstream distance is exact until
    * the final normalization. None on malformed payloads (same grammar
    * as decodePpm). */
  def histBins16(p: Array[Byte]): Option[(Long, Array[Long])] =
    decodeP6At(p, 0).map { case (w, h, _, end) =>
      val n = 3 * w * h
      val start = end - n
      val acc = new Array[Long](16)
      var i = start
      while (i < end) { acc((p(i) & 0xff) >> 4) += 1; i += 1 }
      (n.toLong, acc)
    }

  /** Per-partition batch histogram decode — the decodeAll pattern. */
  def histAll(media: Dataset[MediaRow]): Dataset[HistRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      histBins16(m.payload).map { case (n, bins) =>
        HistRow(m.media_id, n, bins.toSeq)
      }
    })
  }

  // ---- per-channel statistics (color-balance features) ----

  case class ChannelStats(media_id: Long, width: Int, height: Int,
      r_sum: Long, g_sum: Long, b_sum: Long)

  /** Per-channel EXACT byte sums over a P6 pixel plane (channel = byte
    * index mod 3 in RGB interleave). Like the other decoders, the lossy
    * division to a mean happens exactly once at the very end of the query,
    * never inside the decode — cross-engine hash safety. Returns None on
    * any malformed payload (same grammar as decodePpm). */
  def channelSums(p: Array[Byte]): Option[ChannelStats] =
    decodeP6At(p, 0).map { case (w, h, _, end) =>
      val n = 3 * w * h
      val start = end - n // plane location from the parse, not payload tail
      val acc = new Array[Long](3)
      var i = 0
      while (i < n) { acc(i % 3) += (p(start + i) & 0xff); i += 1 }
      ChannelStats(0L, w, h, acc(0), acc(1), acc(2))
    }

  /** Partition-batched per-channel decode over a PPM media lake. */
  def channelStatsAll(media: Dataset[MediaRow]): Dataset[ChannelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      channelSums(r.payload).map(_.copy(media_id = r.media_id))
    })
  }

  // ---- pixel-value entropy (texture/complexity signal) ----

  case class ByteEntropy(media_id: Long, n_bytes: Long, n_distinct: Int,
      s_scaled: Long)

  /** Exact pixel-byte histogram statistics for entropy: the 256-bin count
    * vector stays inside the decode; what leaves is n (plane bytes),
    * distinct value count, and Σ floor(c·ln c·1e12 + 0.5) as an EXACT
    * long (the scale-to-long engine-stable spelling) — the final
    * H = ln n − s/1e12/n division happens once, in the query, with the
    * identical expression on the oracle side. */
  def byteEntropy(p: Array[Byte]): Option[ByteEntropy] =
    decodeP6At(p, 0).map { case (w, h, _, end) =>
      val n = 3 * w * h
      val start = end - n
      val hist = new Array[Long](256)
      var i = 0
      while (i < n) { hist(p(start + i) & 0xff) += 1; i += 1 }
      var s = 0L
      var k = 0
      var distinct = 0
      while (k < 256) {
        val c = hist(k)
        if (c > 0) {
          distinct += 1
          s += math.floor(c.toDouble * math.log(c.toDouble) * 1e12 + 0.5).toLong
        }
        k += 1
      }
      ByteEntropy(0L, n.toLong, distinct, s)
    }

  /** Partition-batched entropy decode over a PPM media lake. */
  def byteEntropyAll(media: Dataset[MediaRow]): Dataset[ByteEntropy] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      byteEntropy(r.payload).map(_.copy(media_id = r.media_id))
    })
  }
}
