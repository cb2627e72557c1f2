package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed by per-partition batch functions.
  *
  * The decode step is REAL for three container formats that need no codec
  * libraries — BMP (BITMAPINFOHEADER), WAV (RIFF/PCM) and uncompressed
  * RIFF AVI (DIB frames in `LIST movi`) — and parses dimensions / sample
  * layout / frame inventory from the little-endian headers, dispatching on
  * magic bytes, never on the metadata column. `resize` is likewise REAL
  * for 24-bit BMPs (nearest-neighbor pixel resample, gate-verified to a
  * pixel checksum), and `sampleFrames` is a REAL container walk over the
  * AVI `movi` list (`00db`/`00dc` chunks, even-byte chunk padding, m3
  * pixel-checksum gated). Compressed codecs inside those containers are
  * where a real deployment plugs decode libraries; the container layer —
  * the Spark-side schema, batching, and chunk arithmetic — is fully real.
  *
  * Scale: blobs ride in parquet binary columns (no base64 inflation);
  * decode is mapPartitions so codec contexts initialize once per partition,
  * not per row — the pattern that matters at 100 TB where codec setup
  * dominates row-at-a-time UDFs.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media: Array[Byte], fmt: String,
      frame_size: Int)

  /** Parsed header facts: image fields zero for audio and vice versa. */
  case class DecodedRow(doc_id: Long, fmt: String, n_bytes: Long,
      width: Int, height: Int, sample_rate: Int, n_channels: Int,
      n_samples: Long)

  // ------------------------- blob construction -------------------------

  /** Pixel-array geometry of a 24bpp BMP: storage row y (0 = the bottom
    * row) starts at `dataOff + y * rowSize`, pixels are 3 bytes (B, G,
    * R) and rows are padded to 4 bytes. */
  final case class Bmp(width: Int, height: Int, dataOff: Int, rowSize: Int)

  /** The header decoder every BMP pixel walker goes through: the `BM`
    * magic, 24 bits per pixel, positive width and height, and a pixel
    * array that starts after the 54 header bytes and lies inside `m`.
    * The row size is computed in Long, so no width can wrap it into a
    * stride that passes the bounds check. None for anything else. */
  def bmpGeometry(m: Array[Byte]): Option[Bmp] = {
    if (m.length < 54 || m(0) != 'B' || m(1) != 'M') return None
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    val off = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    if (buf.getShort(28) != 24 || w <= 0 || h <= 0 || off < 54) return None
    val rowSize = (3L * w + 3) / 4 * 4
    // rowSize <= m.length first, so rowSize * h cannot overflow a Long
    if (rowSize > m.length || off + rowSize * h > m.length) None
    else Some(Bmp(w, h, off, rowSize.toInt))
  }

  /** A zero-filled 24-bit BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER + 4-byte-aligned pixel rows from offset 54. */
  private def newBmp(width: Int, height: Int): (Array[Byte], Bmp) = {
    val g = Bmp(width, height, 54, ((3 * width + 3) / 4) * 4)
    val dataSize = g.rowSize * height
    val b = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    (b.array(), g)
  }

  /** Minimal valid 24-bit BMP ([[newBmp]]) with its pixel rows filled
    * from `fill` (cycled). */
  def buildBmp(width: Int, height: Int, fill: Array[Byte]): Array[Byte] = {
    val (out, _) = newBmp(width, height)
    if (fill.nonEmpty) {
      var i = 54
      while (i < out.length) { out(i) = fill((i - 54) % fill.length); i += 1 }
    }
    out
  }

  /** Minimal valid PCM WAV: 44-byte RIFF/fmt/data header + sample data
    * (truncated to whole frames of `channels` x 16-bit). */
  def buildWav(sampleRate: Int, channels: Int, data: Array[Byte]): Array[Byte] = {
    val frame = channels * 2 // 16-bit PCM
    val dataLen = data.length - (data.length % frame)
    val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * frame).putShort(frame.toShort).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    b.put(data, 0, dataLen)
    b.array()
  }

  /** Minimal valid uncompressed RIFF AVI: `hdrl` (avih + one `vids`/`DIB `
    * stream with a BITMAPINFOHEADER strf) followed by `LIST movi` holding
    * `nFrames` `00db` chunks of raw bottom-up 24bpp DIB pixels. Frame `f`'s
    * data byte `i` (row padding included) is `fill((f + i) % fill.length)`
    * — cycled with a per-frame offset so every frame differs and an oracle
    * can recompute any frame's checksum from the source text alone. */
  def buildAvi(width: Int, height: Int, nFrames: Int,
      fill: Array[Byte]): Array[Byte] = {
    // delegate to the frames-explicit builder (single copy of the
    // container/header layout — the m18 composition spec proves the two
    // entry points emit identical bytes); frame f byte i cycles `fill`
    // at offset f+i, the documented blob-fill formula every m-gate
    // oracle replays
    val rowSize = ((3 * width + 3) / 4) * 4
    val fb = rowSize * height
    buildAviFrames(width, height, IndexedSeq.tabulate(nFrames)(f =>
      Array.tabulate(fb)(i =>
        if (fill.nonEmpty) fill((f + i) % fill.length) else 0.toByte)))
  }

  /** Valid minimal AVI from EXPLICIT frame payloads — the rebuild half
    * of [[dropFramesAvi]] (container layout identical to [[buildAvi]],
    * which cycles a fill array instead of taking frames). Every frame
    * must be exactly rowSize·height bytes. Playback rate is
    * `rate / rateScale` fps (strh dwRate/dwScale; avih
    * dwMicroSecPerFrame = 10⁶·rateScale/rate) — the defaults reproduce
    * [[buildAvi]]'s 25 fps layout byte-for-byte, and [[dropFramesAvi]]
    * multiplies rateScale by its stride so a temporal downsample slows
    * the clock instead of speeding playback up. */
  def buildAviFrames(width: Int, height: Int,
      frames: IndexedSeq[Array[Byte]],
      rateScale: Int = 1, rate: Int = 25): Array[Byte] = {
    require(rateScale >= 1 && rate >= 1, "rate fields must be positive")
    val rowSize = ((3 * width + 3) / 4) * 4
    val fb = rowSize * height
    require(frames.forall(_.length == fb),
      s"every frame must be rowSize*height = $fb bytes")
    val nFrames = frames.length
    val moviData = 4 + nFrames * (8 + fb)
    val total = 224 + nFrames * (8 + fb)
    def fcc(b: ByteBuffer, s: String): ByteBuffer =
      b.put(s.getBytes("US-ASCII"))
    val b = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    fcc(b, "RIFF").putInt(total - 8); fcc(b, "AVI ")
    fcc(b, "LIST").putInt(192); fcc(b, "hdrl")
    fcc(b, "avih").putInt(56)
      .putInt((1000000L * rateScale / rate).toInt)
      .putInt((fb.toLong * rate / rateScale).toInt).putInt(0).putInt(0)
      .putInt(nFrames).putInt(0).putInt(1).putInt(fb)
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    fcc(b, "LIST").putInt(116); fcc(b, "strl")
    fcc(b, "strh").putInt(56)
    fcc(b, "vids"); fcc(b, "DIB ")
    b.putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(rateScale).putInt(rate).putInt(0).putInt(nFrames)
      .putInt(fb).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(width.toShort)
      .putShort(height.toShort)
    fcc(b, "strf").putInt(40)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(fb).putInt(2835).putInt(2835).putInt(0).putInt(0)
    fcc(b, "LIST").putInt(moviData); fcc(b, "movi")
    frames.foreach { fr => fcc(b, "00db").putInt(fb); b.put(fr) }
    b.array()
  }

  /** TEMPORAL DOWNSAMPLE of an AVI — the video-rate normalization
    * beside [[resizeBmp]] (image) and [[decimateWav]] (audio): keep
    * every `stride`-th video frame of the `LIST movi` walk (frames 0,
    * stride, 2·stride, …) and REBUILD a valid container with updated
    * frame counts, so downstream walks ([[aviFrameSlices]],
    * [[frameAbsDelta]]) run on the result unchanged. m3 SAMPLES frames
    * out of the container; this emits a working container — the form a
    * training pipeline actually stores. Only uniform-frame DIB AVIs
    * (every frame rowSize·height bytes) are rebuilt; anything else
    * returns None. The rebuilt header's clock is SLOWED by the stride
    * (source dwScale × stride, dwRate unchanged) so the output plays at
    * the downsampled rate — 25 fps stride-2 → 12.5 fps — rather than
    * replaying the surviving frames at the original rate; composition
    * therefore holds on the full container bytes (stride a then b ==
    * stride a·b). */
  def dropFramesAvi(m: Array[Byte], stride: Int): Option[Array[Byte]] = {
    require(stride >= 1, "stride must be >= 1")
    if (!isRiff(m, "AVI ")) return None
    val (w, h) = aviMainHeaderDims(m)
    if (w <= 0 || h <= 0) return None
    val rowSize = ((3 * w + 3) / 4) * 4
    val fb = rowSize * h
    val slices = aviFrameSlices(m)
    if (slices.exists(_._2 != fb)) return None
    val kept = slices.indices.collect {
      case f if f % stride == 0 =>
        java.util.Arrays.copyOfRange(m, slices(f)._1,
          slices(f)._1 + slices(f)._2)
    }
    val (scale, rate) = aviVideoScaleRate(m).getOrElse((1, 25))
    Some(buildAviFrames(w, h, kept,
      rateScale = math.max(1, scale) * stride, rate = math.max(1, rate)))
  }

  /** Attach real media blobs to the documents table (the corpus-building
    * step), dispatching on `doc_id % 3`: 0 -> a BMP whose dimensions derive
    * from the text, 1 -> a PCM WAV carrying the text bytes, 2 -> an
    * uncompressed AVI whose DIB frames cycle the text bytes — so the
    * decode/resize/frame gates can verify actual container parsing against
    * oracles computed straight from the table. */
  def attachBlobs(documents: DataFrame, frameSize: Int): DataFrame = {
    val sp = documents.sparkSession
    import sp.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          if (id % 3 == 0) {
            val w = bytes.length % 31 + 1
            val h = (id % 7 + 1).toInt
            MediaRow(id, buildBmp(w, h, bytes), "image/bmp", frameSize)
          } else if (id % 3 == 1) {
            val rate = (8000 + (id % 8) * 1000).toInt
            val ch = bytes.length % 2 + 1
            MediaRow(id, buildWav(rate, ch, bytes), "audio/wav", frameSize)
          } else {
            val w = bytes.length % 7 + 1
            val h = (id % 4 + 1).toInt
            val nf = (id % 5 + 2).toInt
            MediaRow(id, buildAvi(w, h, nf, bytes), "video/avi", frameSize)
          }
        }
      }.toDF()
  }

  // ------------------------- header decoding -------------------------

  private def isRiff(m: Array[Byte], form: String): Boolean =
    m.length >= 12 &&
      m(0) == 'R' && m(1) == 'I' && m(2) == 'F' && m(3) == 'F' &&
      m(8) == form(0) && m(9) == form(1) && m(10) == form(2) &&
      m(11) == form(3)

  /** Decode a blob by its MAGIC BYTES (the fmt column is deliberately
    * ignored — decode trusts only the payload): BMP, WAV and AVI headers
    * are parsed for real; anything else falls back to raw byte accounting.
    * For AVI, width/height come from the avih main header and n_samples is
    * the actual `00db`/`00dc` frame count walked out of `LIST movi` — not
    * the header's claim. */
  def decodeBlob(b: MediaRow): DecodedRow = {
    val m = b.media
    if (m.length >= 54 && m(0) == 'B' && m(1) == 'M') {
      val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
      val width = buf.getInt(18)
      val height = buf.getInt(22)
      DecodedRow(b.doc_id, "image/bmp", m.length.toLong, width, height,
        0, 0, 0L)
    } else if (isRiff(m, "WAVE") && m.length >= 44) {
      val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
      val channels = buf.getShort(22).toInt
      val rate = buf.getInt(24)
      val bits = buf.getShort(34).toInt
      val dataLen = buf.getInt(40)
      val frame = channels * (bits / 8)
      DecodedRow(b.doc_id, "audio/wav", m.length.toLong, 0, 0, rate,
        channels, if (frame > 0) dataLen.toLong / frame else 0L)
    } else if (isRiff(m, "AVI ")) {
      // locate avih by fourcc (walk top-level chunks for LIST hdrl, then
      // its sub-chunks) — real muxers may emit JUNK padding before hdrl,
      // so a fixed offset would read garbage dimensions
      val (w, h) = aviMainHeaderDims(m)
      DecodedRow(b.doc_id, "video/avi", m.length.toLong, w, h, 0, 0,
        aviFrameSlices(m).length.toLong)
    } else {
      DecodedRow(b.doc_id, b.fmt, m.length.toLong, 0, 0, 0, 0, 0L)
    }
  }

  /** Width/height from the avih main header, located BY FOURCC: walk the
    * top-level chunks for `LIST hdrl`, then hdrl's sub-chunks for `avih`
    * (dwWidth/dwHeight at payload offsets 32/36). (0, 0) when absent or
    * truncated. */
  def aviMainHeaderDims(m: Array[Byte]): (Int, Int) = {
    if (!isRiff(m, "AVI ")) return (0, 0)
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int, s: String): Boolean =
      m(off) == s(0) && m(off + 1) == s(1) && m(off + 2) == s(2) &&
        m(off + 3) == s(3)
    var off = 12
    while (off + 12 <= m.length) {
      val size = buf.getInt(off + 4)
      // subtraction form: `off + 8 + size` itself overflows Int for a
      // crafted size near Int.MaxValue and the bound check passes wrongly
      if (size < 0 || size > m.length - off - 8) return (0, 0)
      if (fourcc(off, "LIST") && size >= 4 && fourcc(off + 8, "hdrl")) {
        val end = off + 8 + size
        var p = off + 12
        while (p + 8 <= end) {
          val csz = buf.getInt(p + 4)
          if (csz < 0 || csz > end - p - 8) return (0, 0)
          if (fourcc(p, "avih") && csz >= 40)
            return (buf.getInt(p + 8 + 32), buf.getInt(p + 8 + 36))
          p += 8 + csz + (csz & 1)
        }
        return (0, 0) // hdrl without avih
      }
      off += 8 + size + (size & 1)
    }
    (0, 0)
  }

  /** dwMicroSecPerFrame from the avih main header (same fourcc walk as
    * [[aviMainHeaderDims]], payload offset 0); 0 when absent. The m18
    * gate re-decodes it from the rebuilt container so the stride-scaled
    * frame clock is oracle-pinned. */
  def aviUsPerFrame(m: Array[Byte]): Int = {
    if (!isRiff(m, "AVI ")) return 0
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int, s: String): Boolean =
      m(off) == s(0) && m(off + 1) == s(1) && m(off + 2) == s(2) &&
        m(off + 3) == s(3)
    var off = 12
    while (off + 12 <= m.length) {
      val size = buf.getInt(off + 4)
      if (size < 0 || size > m.length - off - 8) return 0
      if (fourcc(off, "LIST") && size >= 4 && fourcc(off + 8, "hdrl")) {
        val end = off + 8 + size
        var p = off + 12
        while (p + 8 <= end) {
          val csz = buf.getInt(p + 4)
          if (csz < 0 || csz > end - p - 8) return 0
          if (fourcc(p, "avih") && csz >= 40) return buf.getInt(p + 8)
          p += 8 + csz + (csz & 1)
        }
        return 0
      }
      off += 8 + size + (size & 1)
    }
    0
  }

  /** (dwScale, dwRate) of the first `vids` stream header, located by
    * fourcc walk (LIST hdrl → LIST strl → strh, payload offsets 20/24) —
    * the frame-clock fields [[dropFramesAvi]] must stride-scale when it
    * rebuilds a downsampled container. None when the container carries
    * no parseable video strh (callers fall back to the builder default
    * 25 fps). */
  def aviVideoScaleRate(m: Array[Byte]): Option[(Int, Int)] = {
    if (!isRiff(m, "AVI ")) return None
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int, s: String): Boolean =
      m(off) == s(0) && m(off + 1) == s(1) && m(off + 2) == s(2) &&
        m(off + 3) == s(3)
    var off = 12
    while (off + 12 <= m.length) {
      val size = buf.getInt(off + 4)
      if (size < 0 || size > m.length - off - 8) return None
      if (fourcc(off, "LIST") && size >= 4 && fourcc(off + 8, "hdrl")) {
        val end = off + 8 + size
        var p = off + 12
        while (p + 8 <= end) {
          val csz = buf.getInt(p + 4)
          if (csz < 0 || csz > end - p - 8) return None
          if (fourcc(p, "LIST") && csz >= 4 && fourcc(p + 8, "strl")) {
            val send = p + 8 + csz
            var q = p + 12
            while (q + 8 <= send) {
              val ssz = buf.getInt(q + 4)
              if (ssz < 0 || ssz > send - q - 8) return None
              if (fourcc(q, "strh") && ssz >= 28 && fourcc(q + 8, "vids"))
                return Some((buf.getInt(q + 8 + 20), buf.getInt(q + 8 + 24)))
              q += 8 + ssz + (ssz & 1)
            }
          }
          p += 8 + csz + (csz & 1)
        }
        return None
      }
      off += 8 + size + (size & 1)
    }
    None
  }

  /** REAL RIFF AVI container walk: locate every `LIST movi` among the
    * top-level chunks and return the (offset, length) of each video frame
    * chunk (`##db` uncompressed / `##dc` compressed) in stream order,
    * honoring the RIFF even-byte chunk padding rule. Truncated or
    * malformed tails stop the walk (best-effort, PERMISSIVE-style) rather
    * than throwing — corrupt blobs yield the frames that parse. */
  def aviFrameSlices(m: Array[Byte]): IndexedSeq[(Int, Int)] = {
    if (!isRiff(m, "AVI ")) return IndexedSeq.empty
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    val out = IndexedSeq.newBuilder[(Int, Int)]
    var off = 12
    var ok = true
    while (ok && off + 8 <= m.length) {
      val size = buf.getInt(off + 4)
      // overflow-safe subtraction form (see aviMainHeaderDims)
      if (size < 0 || size > m.length - off - 8) ok = false
      else {
        if (size >= 4 && m(off) == 'L' && m(off + 1) == 'I' &&
            m(off + 2) == 'S' && m(off + 3) == 'T' &&
            m(off + 8) == 'm' && m(off + 9) == 'o' &&
            m(off + 10) == 'v' && m(off + 11) == 'i') {
          val end = off + 8 + size
          var p = off + 12
          while (p + 8 <= end) {
            val csz = buf.getInt(p + 4)
            if (csz < 0 || csz > end - p - 8) p = end
            else {
              // video frame chunks are '<2-digit stream id>db|dc'
              if (m(p + 2) == 'd'.toByte &&
                  (m(p + 3) == 'b'.toByte || m(p + 3) == 'c'.toByte))
                out += ((p + 8, csz))
              p += 8 + csz + (csz & 1) // RIFF pads chunks to even offsets
            }
          }
        }
        off += 8 + size + (size & 1)
      }
    }
    out.result()
  }

  /** Sum of absolute byte differences between two equal-length frames —
    * the INTER-FRAME MOTION proxy of a video curation pipeline: near-zero
    * delta marks static/duplicate frames (drop before training), a spike
    * marks a scene cut (the keyframe-selection signal). Exact integer,
    * so an oracle can replay it from the frame-fill formula. */
  def frameAbsDelta(a: Array[Byte], b: Array[Byte]): Long = {
    require(a.length == b.length,
      s"frameAbsDelta needs equal-length frames, got ${a.length} vs " +
        s"${b.length}")
    var s = 0L
    var i = 0
    while (i < a.length) {
      s += math.abs((a(i) & 0xff) - (b(i) & 0xff))
      i += 1
    }
    s
  }

  /** Whole-frame byte checksum (unsigned sum) — the content witness the m3
    * gate hashes against an oracle that recomputes the frame fill straight
    * from the documents table. */
  def frameChecksum(frame: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < frame.length) { sum += (frame(i) & 0xff); i += 1 }
    sum
  }

  /** One channel's pixel fold: count, sum, sum of squares, min and max. */
  case class ChannelStats(channel: Int, n: Long, sum: Long, sumSq: Long,
      min: Int, max: Int)

  /** Per-channel pixel statistics of a 24bpp BMP, one pass over the REAL
    * pixel array: data offset from the header (byte 10), 4-aligned rows,
    * padding bytes excluded — so the stats certify the decode geometry,
    * not a raw byte slice. Channel order is BMP storage order (0=B, 1=G,
    * 2=R). None for payloads that are not 24bpp BMPs.
    *
    * Two screens read it. Sum, min and max are the brightness /
    * color-cast profile an image-curation pipeline screens on (all-black
    * frames, blown-out scans, single-channel casts; the m8 gate). Count,
    * sum and sum of squares are the dataset mean/std constants every
    * image-training pipeline computes first (the
    * `transforms.Normalize(mean, std)` numbers; the m28 gate): exact
    * integers are the MERGEABLE carrier — corpus constants are Σ over
    * images of these per-image integers (one partial agg), with mean and
    * the population std the caller's one final float each — so two
    * engines, or two shards of 100 TB, agree bit-for-bit on the
    * accumulated state. Sum of squares ≤ 255²·n stays inside int64
    * through ~1.4·10¹⁴ pixels per image. */
  def channelStats(m: Array[Byte]): Option[Seq[ChannelStats]] = {
    val Bmp(w, h, dataOff, rowSize) = bmpGeometry(m).getOrElse(return None)
    val sum, sq = new Array[Long](3)
    val mins = Array(255, 255, 255)
    val maxs = new Array[Int](3)
    var j = 0
    while (j < h) {
      var x = 0
      while (x < w) {
        val o = dataOff + j * rowSize + 3 * x
        var c = 0
        while (c < 3) {
          val v = m(o + c) & 0xff
          sum(c) += v
          sq(c) += v.toLong * v
          if (v < mins(c)) mins(c) = v
          if (v > maxs(c)) maxs(c) = v
          c += 1
        }
        x += 1
      }
      j += 1
    }
    val n = w.toLong * h
    Some((0 until 3).map(c =>
      ChannelStats(c, n, sum(c), sq(c), mins(c), maxs(c))))
  }

  case class LuminanceRow(doc_id: Long, n_pixels: Long, lum_sum: Long,
    lum_min: Int, lum_max: Int, h0: Long, h1: Long, h2: Long, h3: Long)

  /** Grayscale (ITU-R BT.601 luma) profile of a 24bpp BMP: per-pixel
    * integer luminance lum = (299·R + 587·G + 114·B) div 1000 — the
    * standard RGB→gray weights in exact thousandths, floor division, so
    * no float crosses an engine — reduced to sum/min/max plus a 4-bucket
    * histogram (lum div 64: shadows / low-mid / high-mid / highlights).
    * This is the exposure/contrast screen an image-curation pipeline
    * thresholds before training (all-dark, all-blown, or zero-contrast
    * frames carry no signal), and the per-doc reduction the m5 aHash
    * builds on. BMP rows store B,G,R per pixel — channel index 2 is red.
    * One header decode + one pass over the pixel data per row; no state
    * across rows. */
  def bmpLuminance(m: Array[Byte]): Option[LuminanceRow] = {
    val Bmp(width, height, off, rowSize) = bmpGeometry(m).getOrElse(return None)
    var sum = 0L
    var mn = 255
    var mx = 0
    val hist = new Array[Long](4)
    var y = 0
    while (y < height) {
      val row = off + y * rowSize
      var x = 0
      while (x < width) {
        val b = m(row + x * 3) & 0xff
        val g = m(row + x * 3 + 1) & 0xff
        val r = m(row + x * 3 + 2) & 0xff
        val lum = (299 * r + 587 * g + 114 * b) / 1000
        sum += lum
        if (lum < mn) mn = lum
        if (lum > mx) mx = lum
        hist(lum / 64) += 1
        x += 1
      }
      y += 1
    }
    Some(LuminanceRow(0L, width.toLong * height, sum, mn, mx,
      hist(0), hist(1), hist(2), hist(3)))
  }

  /** Full 256-level grayscale histogram of a 24bpp BMP — the per-image
    * reduction behind the m31 entropy screen: same header validation,
    * pixel walk and exact BT.601 integer luma as [[bmpLuminance]], but
    * returning every occupied (level, count) pair (≤ 256 rows per image
    * REGARDLESS of pixel count — the map-side carrier; the corpus never
    * shuffles pixels). Empty for non-BMP payloads. */
  def bmpGrayLevels(m: Array[Byte]): Seq[(Int, Long)] = {
    val Bmp(width, height, off, rowSize) = bmpGeometry(m).getOrElse(return Nil)
    val hist = new Array[Long](256)
    var y = 0
    while (y < height) {
      val row = off + y * rowSize
      var x = 0
      while (x < width) {
        val b = m(row + x * 3) & 0xff
        val g = m(row + x * 3 + 1) & 0xff
        val r = m(row + x * 3 + 2) & 0xff
        hist((299 * r + 587 * g + 114 * b) / 1000) += 1
        x += 1
      }
      y += 1
    }
    (0 until 256).collect {
      case l if hist(l) > 0 => (l, hist(l))
    }
  }

  /** Batch decode over partitions (codec init once per partition). */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      // real codecs would initialize their context here, once
      it.map(decodeBlob)
    }
  }

  case class ResizedRow(doc_id: Long, media: Array[Byte], fmt: String,
      width: Int, height: Int)

  /** REAL nearest-neighbor resize of a 24-bit uncompressed BMP, pure JVM
    * (BMP needs no codec): destination pixel (x, y) samples source pixel
    * (x*srcW/width, y*srcH/height); output is a valid BMP with rebuilt
    * headers and 4-aligned rows. Returns None for payloads that are not
    * 24bpp BMPs. */
  def resizeBmp(m: Array[Byte], width: Int,
      height: Int): Option[Array[Byte]] = {
    val Bmp(srcW, srcH, dataOff, srcRow) = bmpGeometry(m).getOrElse(return None)
    val (out, Bmp(_, _, _, dstRow)) = newBmp(width, height)
    var y = 0
    while (y < height) {
      val sy = y * srcH / height
      var x = 0
      while (x < width) {
        val sx = x * srcW / width
        val s = dataOff + sy * srcRow + sx * 3
        val d = 54 + y * dstRow + x * 3
        out(d) = m(s); out(d + 1) = m(s + 1); out(d + 2) = m(s + 2)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** BILINEAR resize of a 24-bit uncompressed BMP — the production
    * augmentation beside [[resizeBmp]]'s nearest-neighbor: each output
    * pixel blends the 4 surrounding source pixels. ALL arithmetic is
    * 8.8 FIXED-POINT INTEGER so the result is bit-exact and a SQL
    * oracle replays every output byte: the source coordinate of output
    * x is fx = x·(srcW−1)·256 ∕ (W−1) (endpoint-aligned; integer
    * division, and a 1-wide source or 1-wide target collapses to 0
    * naturally), x0 = fx≫8, dx = fx&255, x1 = min(x0+1, srcW−1), and
    * the channel value is (p00·(256−dx)·(256−dy) + p10·dx·(256−dy) +
    * p01·(256−dx)·dy + p11·dx·dy + 32768) ≫ 16 — weights sum to 2¹⁶,
    * +2¹⁵ rounds half-up, everything stays far below 2³¹. Same header
    * contract as [[resizeBmp]] (24bpp only, storage-order rows). */
  def resizeBmpBilinear(m: Array[Byte], width: Int,
      height: Int): Option[Array[Byte]] = {
    val Bmp(srcW, srcH, dataOff, srcRow) = bmpGeometry(m).getOrElse(return None)
    val (out, Bmp(_, _, _, dstRow)) = newBmp(width, height)
    def px(sy: Int, sx: Int, c: Int): Int =
      m(dataOff + sy * srcRow + sx * 3 + c) & 0xff
    var y = 0
    while (y < height) {
      val fy = if (height == 1) 0 else y * (srcH - 1) * 256 / (height - 1)
      val y0 = fy >> 8
      val dy = fy & 255
      val y1 = math.min(y0 + 1, srcH - 1)
      var x = 0
      while (x < width) {
        val fx = if (width == 1) 0 else x * (srcW - 1) * 256 / (width - 1)
        val x0 = fx >> 8
        val dx = fx & 255
        val x1 = math.min(x0 + 1, srcW - 1)
        val d = 54 + y * dstRow + x * 3
        var c = 0
        while (c < 3) {
          val v = (px(y0, x0, c) * (256 - dx) * (256 - dy) +
            px(y0, x1, c) * dx * (256 - dy) +
            px(y1, x0, c) * (256 - dx) * dy +
            px(y1, x1, c) * dx * dy + 32768) >> 16
          out(d + c) = v.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** LETTERBOX resize of a 24-bit BMP — the aspect-PRESERVING form of
    * [[resizeBmpBilinear]] (a vision model's canonical input transform:
    * scale to fit, pad the rest): the integer scale
    * min(W·256∕srcW, H·256∕srcH) (8.8 fixed point, floor) sizes the
    * inner box (tw, th) ≥ 1×1, the box is bilinear-resized with the
    * exact m19 kernel, centered at integer offsets
    * ((W−tw)∕2, (H−th)∕2), and every canvas pixel outside the box is
    * the mid-gray pad (128, 128, 128). All geometry is integer, so a
    * SQL oracle replays every output byte — box dims, offsets,
    * interpolation and pad alike. None on non-24bpp payloads or when
    * the fit scale floors to 0. */
  def letterboxBmp(m: Array[Byte], width: Int,
      height: Int): Option[Array[Byte]] = {
    val Bmp(srcW, srcH, _, _) = bmpGeometry(m).getOrElse(return None)
    val scale = math.min(width * 256 / srcW, height * 256 / srcH)
    if (scale <= 0) return None
    val tw = math.max(srcW * scale / 256, 1)
    val th = math.max(srcH * scale / 256, 1)
    val ox = (width - tw) / 2
    val oy = (height - th) / 2
    resizeBmpBilinear(m, tw, th).map { inner =>
      val innerRow = ((3 * tw + 3) / 4) * 4
      val (out, Bmp(_, _, _, dstRow)) = newBmp(width, height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val d = 54 + y * dstRow + x * 3
          if (x >= ox && x < ox + tw && y >= oy && y < oy + th) {
            val s = 54 + (y - oy) * innerRow + (x - ox) * 3
            out(d) = inner(s); out(d + 1) = inner(s + 1)
            out(d + 2) = inner(s + 2)
          } else {
            out(d) = 128.toByte; out(d + 1) = 128.toByte
            out(d + 2) = 128.toByte
          }
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** REAL crop of a 24-bit uncompressed BMP: the output is a valid BMP
    * whose storage row j, column i is the source's storage pixel
    * (x0+i, y0+j) — coordinates are in STORAGE order (BMP rows are
    * bottom-up on screen; a screen-coordinate crop is the same walk
    * with y flipped, which changes nothing about the byte mechanics
    * this exercises). The rectangle is clipped to the source bounds;
    * None if the clipped rectangle is empty or the payload is not a
    * 24bpp BMP. Together with [[resizeBmp]] this is the augmentation
    * pair (random-crop + resize) an image-pretraining pipeline runs
    * per sample. */
  def cropBmp(m: Array[Byte], x0: Int, y0: Int, w: Int,
      h: Int): Option[Array[Byte]] = {
    val Bmp(srcW, srcH, dataOff, srcRow) = bmpGeometry(m).getOrElse(return None)
    if (x0 < 0 || y0 < 0 || x0 >= srcW || y0 >= srcH) return None
    val cw = math.min(w, srcW - x0)
    val ch = math.min(h, srcH - y0)
    if (cw <= 0 || ch <= 0) return None
    val (out, Bmp(_, _, _, dstRow)) = newBmp(cw, ch)
    var j = 0
    while (j < ch) {
      val s = dataOff + (y0 + j) * srcRow + x0 * 3
      val d = 54 + j * dstRow
      System.arraycopy(m, s, out, d, 3 * cw)
      j += 1
    }
    Some(out)
  }

  /** HORIZONTAL FLIP of a 24bpp BMP — the mirror augmentation beside
    * [[resizeBmp]] and [[cropBmp]] (flip is the one augmentation applied
    * to nearly every image-pretraining batch because label semantics
    * survive it). Each row's pixel triplets reverse in place
    * (dst x <- src W-1-x, channel order within the pixel preserved);
    * header, row padding and data offset are byte-identical to the
    * source, so the output is a valid BMP of the same dimensions and
    * the total pixel-byte sum is invariant — which is exactly why
    * [[bmpPixelChecksum]] CANNOT witness a flip and
    * [[bmpWeightedChecksum]] exists. None for non-BMP payloads. */
  def flipBmp(m: Array[Byte]): Option[Array[Byte]] = {
    val Bmp(w, h, dataOff, row) = bmpGeometry(m).getOrElse(return None)
    val out = m.clone()
    var y = 0
    while (y < h) {
      val base = dataOff + y * row
      var x = 0
      while (x < w) {
        val s = base + 3 * (w - 1 - x)
        val d = base + 3 * x
        out(d) = m(s); out(d + 1) = m(s + 1); out(d + 2) = m(s + 2)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** 90° ROTATION of a 24bpp BMP — the remaining rigid augmentation
    * beside [[flipBmp]] (flip+rotate generate the full dihedral orbit
    * augmentation pipelines sample from). Dimensions SWAP (W×H →
    * H×W), so unlike flip the row stride, padding and header all
    * change and the container is genuinely rebuilt. Contract in
    * storage coordinates (row j = 0 is the BMP's bottom row):
    *   dst(x', j') = src(x = W−1−j', j = x'),  dstW = H, dstH = W —
    * one quarter-turn; applying it four times reproduces the source
    * byte-for-byte (spec-pinned, along with a hand 2×3 pixel map and
    * the W×1 row → 1×W column degenerate). Channel order within each
    * pixel is preserved; integer geometry only, so the oracle replays
    * every output byte from the blob-fill formula. None for non-BMP
    * payloads. */
  def rotateBmp(m: Array[Byte]): Option[Array[Byte]] = {
    val Bmp(w, h, dataOff, srcRow) = bmpGeometry(m).getOrElse(return None)
    val dstW = h
    val dstH = w
    val (out, Bmp(_, _, _, dstRow)) = newBmp(dstW, dstH)
    var j2 = 0
    while (j2 < dstH) {
      var x2 = 0
      while (x2 < dstW) {
        val s = dataOff + x2 * srcRow + 3 * (w - 1 - j2)
        val d = 54 + j2 * dstRow + 3 * x2
        out(d) = m(s); out(d + 1) = m(s + 1); out(d + 2) = m(s + 2)
        x2 += 1
      }
      j2 += 1
    }
    Some(out)
  }

  /** PATCH-GRID STATISTICS of a 24bpp BMP — the ViT patch-embedding
    * precursor: the image cut into a p×p grid (storage coordinates,
    * row 0 = bottom; edge patches CLIP to the image bounds rather than
    * pad, so their pixel count is smaller and reported), each patch
    * reduced to integer luma statistics (count, sum, min, max) with
    * the [[bmpAverageHash]] luma (b+g+r)/3, integer division. This is
    * the typed-row form a patch tokenizer consumes — and the per-patch
    * reduction is exactly the map-side shape that scales: one row per
    * patch, no shuffle until the caller aggregates. Returns
    * (py, px, n_px, luma_sum, luma_min, luma_max) per patch in
    * row-major (py, px) order; None for non-BMP payloads. */
  def patchStats(m: Array[Byte],
      p: Int): Option[Seq[(Int, Int, Int, Long, Int, Int)]] = {
    require(p >= 1, "patch size must be >= 1")
    val Bmp(w, h, dataOff, rowSize) = bmpGeometry(m).getOrElse(return None)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Long, Int, Int)]
    var py = 0
    while (py * p < h) {
      var px = 0
      while (px * p < w) {
        var n = 0
        var sum = 0L
        var mn = 255
        var mx = 0
        var j = py * p
        while (j < math.min((py + 1) * p, h)) {
          var x = px * p
          while (x < math.min((px + 1) * p, w)) {
            val o = dataOff + j * rowSize + 3 * x
            val luma = ((m(o) & 0xff) + (m(o + 1) & 0xff) +
              (m(o + 2) & 0xff)) / 3
            n += 1; sum += luma
            if (luma < mn) mn = luma
            if (luma > mx) mx = luma
            x += 1
          }
          j += 1
        }
        out += ((py, px, n, sum, mn, mx))
        px += 1
      }
      py += 1
    }
    Some(out.toSeq)
  }

  /** OTSU BINARIZATION THRESHOLD (Otsu 1979 — the classic automatic
    * foreground/background split a document-scan or blank-frame screen
    * runs before any OCR/feature step): choose the luma threshold t
    * maximizing the between-class variance
    *   σ_B²(t) = w₀w₁(μ₀−μ₁)² ∝ (W₀·S − N·S₀)² ∕ (W₀·(N−W₀))
    * over the 256-level histogram, where W₀/S₀ are the count/luma-sum
    * at or below t and N/S the totals — numerator and denominator are
    * EXACT integers (guarded: N ≤ 3451 px keeps every (W₀S−NS₀)²
    * inside int64 — larger images return None rather than rank on a
    * silently overflowed numerator; this repo's fixtures are N ≤ 217),
    * and the ranking ratio is the one final float per
    * candidate: both engines evaluate the identical num∕den double
    * division on exactly-equal integers (p29 discipline), ties break
    * to the SMALLEST t. Candidate thresholds are the PRESENT luma
    * values below the per-image max — every other t yields identical
    * classes to its largest present value below it, and cuts with an
    * empty class are invalid, so a single-level (flat) image has no
    * threshold and returns None (documented, not faked). Luma is the
    * shared integer (b+g+r)/3. Returns
    * (threshold, num, den, n_below, n_above). */
  def otsuThreshold(m: Array[Byte])
      : Option[(Int, Long, Long, Int, Int)] = {
    val Bmp(w, h, dataOff, rowSize) = bmpGeometry(m).getOrElse(return None)
    // EXACT-int64 domain guard (advisor, round 14): |W₀S−NS₀| ≤ 255·N²,
    // so past N = 3451 px the num = d² ranking can overflow int64 and
    // would return a silently wrong threshold. The operator's contract
    // is exact integers (the oracle replays num∕den bit-for-bit), so
    // beyond the provable bound it REFUSES (None) rather than degrade:
    // 255·3451² ≤ 3 037 000 499 = ⌊√Long.MaxValue⌋ keeps every
    // candidate's d² exact.
    if (w.toLong * h > 3451L) return None
    val hist = new Array[Int](256)
    var j = 0
    while (j < h) {
      var x = 0
      while (x < w) {
        val o = dataOff + j * rowSize + 3 * x
        val luma =
          ((m(o) & 0xff) + (m(o + 1) & 0xff) + (m(o + 2) & 0xff)) / 3
        hist(luma) += 1
        x += 1
      }
      j += 1
    }
    val n = w * h
    var s = 0L
    var vmax = -1
    var v = 0
    while (v < 256) {
      if (hist(v) > 0) { s += v.toLong * hist(v); vmax = v }
      v += 1
    }
    var w0 = 0L
    var s0 = 0L
    var bestT = -1
    var bestRatio = 0.0
    var bestNum = 0L
    var bestDen = 0L
    var bestW0 = 0
    v = 0
    while (v < vmax) { // candidates: present values BELOW the max
      if (hist(v) > 0) {
        w0 += hist(v)
        s0 += v.toLong * hist(v)
        val d = w0 * s - n.toLong * s0
        val num = d * d
        val den = w0 * (n - w0)
        val ratio = num.toDouble / den.toDouble
        // ascending iteration + strict '>' keeps the SMALLEST t on ties
        if (bestT < 0 || ratio > bestRatio) {
          bestT = v; bestRatio = ratio; bestNum = num; bestDen = den
          bestW0 = w0.toInt
        }
      }
      v += 1
    }
    if (bestT < 0) None
    else Some((bestT, bestNum, bestDen, bestW0, n - bestW0))
  }

  /** One-pixel-off NEAR-DUP twin of a 24bpp BMP: the first pixel-data
    * byte (blue channel of the storage-order first pixel) bumped by
    * `delta` mod 256; header, dimensions, and every other byte are
    * byte-identical. The canonical perceptual near-duplicate plant —
    * close enough that [[bmpAverageHash]] moves by at most a few bits,
    * far enough that exact hashes/checksums diverge. None for non-BMP
    * payloads (same validation as [[flipBmp]]). */
  /** HISTOGRAM EQUALIZATION of a 24bpp BMP — the classic contrast
    * normalization a vision pipeline applies before feature extraction:
    * per-pixel integer grayscale (b+g+r)/3 (the [[bmpAverageHash]]
    * luma), the 256-bin histogram's cumulative distribution, and the
    * standard remap
    *   eq(v) = (cdf(v) − cdf_min) · 255 ∕ (N − cdf_min)   (floor),
    * where cdf_min is the CDF at the darkest PRESENT gray level (its
    * own count) and N the pixel count — so the darkest level maps to 0,
    * the brightest to 255, and everything between stretches by its
    * rank mass. A flat (single-level) image degenerates to N == cdf_min
    * and maps to 0 by contract. All-integer arithmetic end to end, so a
    * SQL oracle replays every output byte. The output is a valid
    * grayscale 24bpp BMP (all three channels carry eq(gray)), same
    * dimensions. None for non-BMP payloads. */
  def equalizeBmp(m: Array[Byte]): Option[Array[Byte]] = {
    val Bmp(w, h, dataOff, row) = bmpGeometry(m).getOrElse(return None)
    val n = w * h
    val gray = new Array[Int](n)
    val hist = new Array[Int](256)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = dataOff + y * row + x * 3
        val g = ((m(s) & 0xff) + (m(s + 1) & 0xff) + (m(s + 2) & 0xff)) / 3
        gray(y * w + x) = g
        hist(g) += 1
        x += 1
      }
      y += 1
    }
    val cdf = new Array[Int](256)
    var acc = 0
    var v = 0
    var cdfMin = 0
    var seenMin = false
    while (v < 256) {
      acc += hist(v)
      cdf(v) = acc
      if (!seenMin && hist(v) > 0) { cdfMin = hist(v); seenMin = true }
      v += 1
    }
    val (out, _) = newBmp(w, h)
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = gray(y * w + x)
        val eq = if (n > cdfMin)
          ((cdf(g) - cdfMin).toLong * 255L / (n - cdfMin)).toInt
        else 0
        val d = 54 + y * row + x * 3
        out(d) = eq.toByte; out(d + 1) = eq.toByte; out(d + 2) = eq.toByte
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** SOBEL EDGE ENERGY of a 24bpp BMP — the classic first feature a
    * vision pipeline extracts (blur/blank detection, quality screens):
    * integer grayscale (b+g+r)/3 per pixel, the 3×3 Sobel kernels
    * Gx = [[-1,0,1],[-2,0,2],[-1,0,1]] and its transpose over every
    * INTERIOR pixel, energy = Σ(|gx|+|gy|). All-integer convolution,
    * so a SQL oracle replays every tap. Images with no interior
    * (width or height < 3) report 0 energy over 0 interior pixels.
    * Returns (width, height, n_interior, energy); None for non-BMP. */
  def sobelEnergyBmp(m: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    val Bmp(w, h, dataOff, row) = bmpGeometry(m).getOrElse(return None)
    def luma(y: Int, x: Int): Int = {
      val s = dataOff + y * row + x * 3
      ((m(s) & 0xff) + (m(s + 1) & 0xff) + (m(s + 2) & 0xff)) / 3
    }
    var energy = 0L
    var n = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val gx = luma(y - 1, x + 1) + 2 * luma(y, x + 1) +
          luma(y + 1, x + 1) - luma(y - 1, x - 1) -
          2 * luma(y, x - 1) - luma(y + 1, x - 1)
        val gy = luma(y + 1, x - 1) + 2 * luma(y + 1, x) +
          luma(y + 1, x + 1) - luma(y - 1, x - 1) -
          2 * luma(y - 1, x) - luma(y - 1, x + 1)
        energy += math.abs(gx) + math.abs(gy)
        n += 1
        x += 1
      }
      y += 1
    }
    Some((w, h, n, energy))
  }

  def bumpFirstPixelByte(m: Array[Byte], delta: Int): Option[Array[Byte]] = {
    val Bmp(w, h, dataOff, row) = bmpGeometry(m).getOrElse(return None)
    val out = m.clone()
    out(dataOff) = (((m(dataOff) & 0xff) + delta) % 256).toByte
    Some(out)
  }

  /** BRIGHTNESS shift with SATURATION: every pixel-data byte (all three
    * channels, padding untouched) moves by `delta`, clamped to [0, 255]
    * — the nonlinear edit a re-encoded/brightened copy carries. The
    * clamp is the point: an UNCLAMPED shift leaves both aHash (gray and
    * mean shift together) and the DCT AC block (only the DC row/column
    * moves) invariant, so it would plant trivial twins; clamping bends
    * the gray map nonlinearly, which scatters aHash's gray-vs-mean bits
    * while the DCT's low-frequency SIGN structure mostly survives — the
    * exact gap the m29 gate measures. None for non-BMP payloads. */
  def adjustBmpBrightness(m: Array[Byte], delta: Int): Option[Array[Byte]] = {
    val Bmp(w, h, dataOff, row) = bmpGeometry(m).getOrElse(return None)
    val out = m.clone()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < 3 * w) {
        val i = dataOff + y * row + x
        val v = (m(i) & 0xff) + delta
        out(i) = math.max(0, math.min(255, v)).toByte
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** Q14 integer DCT-II basis row k sampled at n: round(cos((2n+1)kπ∕16)
    * ·2¹⁴), pinned as LITERALS (Math.cos tolerates 1 ulp of platform
    * variance — a derived table could silently differ between JVMs,
    * and the oracle inlines these exact values). Antisymmetry∕
    * cancellation note: for every k ≥ 1 the eight entries sum to 0
    * EXACTLY (odd k rows are antisymmetric, even k rows cancel
    * pairwise), which is what makes an unclamped brightness shift
    * provably touch only the k = 0 row. The spec re-derives the table
    * from cos and asserts equality, so drift fails loudly. */
  val DctQ14: Array[Array[Long]] = Array(
    Array(16384L, 16384L, 16384L, 16384L, 16384L, 16384L, 16384L, 16384L),
    Array(16069L, 13623L, 9102L, 3196L, -3196L, -9102L, -13623L, -16069L),
    Array(15137L, 6270L, -6270L, -15137L, -15137L, -6270L, 6270L, 15137L),
    Array(13623L, -3196L, -16069L, -9102L, 9102L, 16069L, 3196L, -13623L),
    Array(11585L, -11585L, -11585L, 11585L, 11585L, -11585L, -11585L,
      11585L),
    Array(9102L, -16069L, 3196L, 13623L, -13623L, -3196L, 16069L, -9102L),
    Array(6270L, -15137L, 15137L, -6270L, -6270L, 15137L, -15137L, 6270L),
    Array(3196L, -9102L, 13623L, -16069L, 16069L, -13623L, 9102L, -3196L))

  /** 64-bit DCT PERCEPTUAL HASH (pHash) of a 24bpp BMP — the
    * frequency-domain fingerprint beside m5's spatial aHash: same 8×8
    * [[resizeBmp]] grid and integer gray (b+g+r)∕3, then the separable
    * 2-D fixed-point DCT-II  F = ((T·G) ∕ 2¹⁴ · Tᵗ) ∕ 2¹⁴  (Q14
    * constants [[DctQ14]], every division the truncating integer
    * division both engines share — m27's kernel discipline), and one
    * bit per coefficient set where F[k][l] > the LOWER MEDIAN of the 63
    * AC coefficients (sorted ascending, index 31; DC is excluded from
    * the median because it carries total brightness, but still gets its
    * bit — 64 bits total for the m16 banding kernel). Why it catches
    * what aHash misses: aHash thresholds each PIXEL against the global
    * mean, so a saturating brightness shift drags pixels across the
    * mean wholesale; the DCT concentrates the shift into the DC row
    * and low-frequency magnitudes, and the SIGN-vs-median structure of
    * the block survives — planted clamped-brightness twins land within
    * a small Hamming radius (gate-measured) where their aHash distance
    * blows past the band threshold. Bounds: |stage1| ≤ 8·255·2¹⁴∕2¹⁴ =
    * 2040, |F| ≤ 8·2040 = 16320 — all far inside Long. None for
    * non-BMP payloads. */
  def bmpDctHash(m: Array[Byte]): Option[Long] =
    resizeBmp(m, 8, 8).map { r =>
      val buf = ByteBuffer.wrap(r).order(ByteOrder.LITTLE_ENDIAN)
      val dataOff = buf.getInt(10)
      val row = ((3 * 8 + 3) / 4) * 4
      val g = Array.ofDim[Long](8, 8)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val i = dataOff + y * row + x * 3
          g(y)(x) =
            ((r(i) & 0xff) + (r(i + 1) & 0xff) + (r(i + 2) & 0xff)) / 3
          x += 1
        }
        y += 1
      }
      // stage 1: vertical transform  s1[k][x] = (Σ_y T[k][y]·g[y][x])/2^14
      val s1 = Array.ofDim[Long](8, 8)
      var k = 0
      while (k < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0L
          var yy = 0
          while (yy < 8) { acc += DctQ14(k)(yy) * g(yy)(x); yy += 1 }
          s1(k)(x) = acc / 16384L
          x += 1
        }
        k += 1
      }
      // stage 2: horizontal  F[k][l] = (Σ_x s1[k][x]·T[l][x])/2^14
      val f = new Array[Long](64)
      k = 0
      while (k < 8) {
        var l = 0
        while (l < 8) {
          var acc = 0L
          var x = 0
          while (x < 8) { acc += s1(k)(x) * DctQ14(l)(x); x += 1 }
          f(k * 8 + l) = acc / 16384L
          l += 1
        }
        k += 1
      }
      val ac = new Array[Long](63)
      System.arraycopy(f, 1, ac, 0, 63)
      java.util.Arrays.sort(ac)
      val med = ac(31)
      var h = 0L
      var i = 0
      while (i < 64) {
        if (f(i) > med) h |= (1L << i)
        i += 1
      }
      h
    }

  /** Position-WEIGHTED pixel checksum of a 24bpp BMP: sum of
    * byte * (row-major pixel-byte index + 1), padding excluded. Unlike
    * the plain sum this witnesses WHERE every byte sits, so it
    * distinguishes a flipped image from its source (the plain sum is
    * permutation-invariant). Bound: weights <= 3WH, so the sum stays
    * far inside Long for any record-sized image. 0 for non-BMP. */
  def bmpWeightedChecksum(m: Array[Byte]): Long = {
    val Bmp(w, h, dataOff, rowSize) = bmpGeometry(m).getOrElse(return 0L)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < 3 * w) {
        sum += (m(dataOff + y * rowSize + x) & 0xff).toLong *
          (y.toLong * 3 * w + x + 1)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Sum of all pixel bytes (unsigned, padding excluded) of a 24-bit BMP —
    * the portable content witness the m2 gate hashes against an oracle that
    * recomputes the same resample arithmetic straight from the documents
    * table. 0 for non-BMP payloads. */
  def bmpPixelChecksum(m: Array[Byte]): Long = {
    val Bmp(w, h, dataOff, rowSize) = bmpGeometry(m).getOrElse(return 0L)
    var sum = 0L
    var y = 0
    while (y < h) {
      var i = dataOff + y * rowSize
      val end = i + 3 * w
      while (i < end) {
        sum += (m(i) & 0xff)
        i += 1
      }
      y += 1
    }
    sum
  }

  /** 64-bit AVERAGE HASH (aHash) of a 24bpp BMP — the classic perceptual
    * image fingerprint for near-dup detection at corpus scale: resize to
    * 8x8 through the REAL [[resizeBmp]] resample, integer grayscale
    * (b+g+r)/3 per pixel, one bit per pixel set where gray > the integer
    * mean. All-integer arithmetic end to end, so the oracle can recompute
    * the exact bits from the blob-fill formula; perceptually-identical
    * images (crops/rescales of the same content) collide, and near-dups
    * sit within a small Hamming radius. None for non-BMP payloads. */
  def bmpAverageHash(m: Array[Byte]): Option[Long] =
    resizeBmp(m, 8, 8).map { r =>
      val buf = ByteBuffer.wrap(r).order(ByteOrder.LITTLE_ENDIAN)
      val dataOff = buf.getInt(10)
      val row = ((3 * 8 + 3) / 4) * 4
      val gray = new Array[Long](64)
      var sum = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val i = dataOff + y * row + x * 3
          val g = ((r(i) & 0xff) + (r(i + 1) & 0xff) + (r(i + 2) & 0xff)) / 3
          gray(y * 8 + x) = g
          sum += g
          x += 1
        }
        y += 1
      }
      val mean = sum / 64
      var h = 0L
      var k = 0
      while (k < 64) {
        if (gray(k) > mean) h |= (1L << k)
        k += 1
      }
      h
    }

  /** Resize over partitions: BMPs go through the REAL [[resizeBmp]] pixel
    * resample; other payloads (audio, opaque formats — where a real
    * deployment plugs a codec) deterministically truncate/pad to
    * width*height bytes so schema, batching, and transport stay exercised. */
  def resize(spark: SparkSession, media: DataFrame, width: Int,
      height: Int): Dataset[ResizedRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      val target = width * height
      it.map { b =>
        resizeBmp(b.media, width, height) match {
          case Some(out) => ResizedRow(b.doc_id, out, b.fmt, width, height)
          case None =>
            val out = java.util.Arrays.copyOf(b.media, target)
            ResizedRow(b.doc_id, out, b.fmt, width, height)
        }
      }
    }
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** REAL frame sampling: AVI payloads go through the container walk
    * ([[aviFrameSlices]] — `LIST movi`, `00db`/`00dc` chunks) and emit
    * every `stride`-th VIDEO FRAME (frame_idx is the frame's index in the
    * stream, exactly what a keyframe-seeking decoder reports); non-AVI
    * payloads keep the documented fallback of slicing the raw bytes into
    * frame_size windows, so audio/image blobs still exercise the schema
    * and batching. Per-partition flatMap: one container walk per blob, no
    * per-frame task overhead. */
  /** Per-window audio energy row: sum of squared 16-bit samples over a
    * fixed window of the interleaved sample stream (exact integers — no
    * float drift between engines). */
  case class EnergyRow(doc_id: Long, window_idx: Int, n_samples: Int,
      energy: Long)

  /** REAL audio feature extraction: WAV payloads are walked as RIFF
    * chunks (the `data` chunk is FOUND, not assumed at byte 44 — fmt
    * extensions shift it), decoded as 16-bit LE PCM, and reduced to
    * per-window sum-of-squares energy — the loudness/VAD primitive an
    * audio curation pipeline runs before anything expensive touches the
    * waveform. Windows cover the interleaved sample stream; the last
    * window may be short (`n_samples` says how short). Non-WAV payloads
    * yield no rows. Per-partition flatMap like the other media walks: one
    * chunk walk per blob, integer math only. */
  def wavEnergy(spark: SparkSession, media: DataFrame,
      window: Int): Dataset[EnergyRow] = {
    require(window > 0, "window must be positive")
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { b =>
        val m = b.media
        wavDataSlice(m) match {
          case None => Iterator.empty
          case Some((dataFrom, dataLen)) =>
            val nSamples = dataLen / 2
            val nWindows = (nSamples + window - 1) / window
            (0 until nWindows).iterator.map { w =>
              val from = w * window
              val until = math.min(from + window, nSamples)
              var k = from
              var energy = 0L
              while (k < until) {
                val s = ((m(dataFrom + 2 * k) & 0xff) |
                  (m(dataFrom + 2 * k + 1) << 8)).toShort.toLong
                energy += s * s
                k += 1
              }
              EnergyRow(b.doc_id, w, until - from, energy)
            }
        }
      }
    }
  }

  /** Per-window GOERTZEL single-bin state row: the final two recurrence
    * values (s1 = s_{N-1}, s2 = s_{N-2}) plus the bin power — state
    * exposed so the oracle replays the recurrence itself, not just the
    * final number. */
  case class GoertzelRow(doc_id: Long, window_idx: Int, n_samples: Int,
      s1: Long, s2: Long, bin_power: Long)

  /** GOERTZEL TONE ENERGY (Goertzel 1958) — single-bin spectral energy
    * per window over the m4 window grid: the first FREQUENCY-domain
    * audio feature beside the time-domain VAD pair (m4 energy, m6
    * segments); the classic tone-detect primitive (DTMF, beep/sine
    * fixtures, hum screens) that answers "how much of THIS frequency"
    * with two multiplies per sample instead of a full FFT.
    *
    * FIXED-POINT INTEGER recurrence (Q14): with c = round(2·cos(2πk/N)
    * ·2¹⁴) pinned as a literal by the caller,
    *   s_n = x_n + (c·s_{n−1})/2¹⁴ − s_{n−2}    (s_{−1} = s_{−2} = 0)
    *   power = s²_{N−1} + s²_{N−2} − (c·s_{N−1}·s_{N−2})/2¹⁴,
    * every division the TRUNCATING integer division both engines share
    * (Java `/` and DuckDB `//` both truncate toward zero — floorDiv
    * would NOT match). No float exists anywhere, so the oracle replays
    * the recurrence verbatim as a recursive CTE. Overflow envelope
    * (r15 advisor fix — the naive n·max|x| bound ignored the resonator
    * gain): the marginally-stable resonator amplifies by ~1∕sin ω, so
    * |s_n| ≤ n·max|x|∕sin ω with cos ω = c∕2^{shift+1}. For a
    * low-frequency bin that gain dominates (k = 1, N = 100 →
    * sin ω ≈ 0.063, |s| up to ~5·10⁷, c·s1·s2 ≈ 9·10¹⁹ > 2⁶³). The
    * method therefore (a) REQUIRES at call time that the worst-case
    * product c·(window·32767∕sin ω)² fits a long, and (b) runs the
    * recurrence and power formula through Math.multiplyExact ∕
    * addExact (JIT-intrinsified, overflow-checked) so any payload that
    * still escapes the envelope fails loudly instead of silently
    * wrapping bin_power. The shipped m27 config (bin 5∕100,
    * sin ω ≈ 0.309) sits ~2.6× under the limit.
    *
    * Same per-partition flatMap shape as [[wavEnergy]] (byte-level
    * codec work no Expression fits); same RIFF data-chunk walk, same
    * window grid, short last window reported via n_samples. */
  def goertzelEnergy(spark: SparkSession, media: DataFrame,
      window: Int, coeff: Long, shift: Int = 14): Dataset[GoertzelRow] = {
    require(window > 0, "window must be positive")
    // Gain-aware envelope (see scaladoc): |s| ≤ window·32767/sin ω.
    val cosw = coeff.toDouble / (1L << (shift + 1)).toDouble
    val sinw = math.sqrt(math.max(1e-12, 1.0 - cosw * cosw))
    val sMax = window.toDouble * 32767.0 / sinw
    require(coeff.toDouble * sMax * sMax <= Long.MaxValue.toDouble &&
        2.0 * sMax * sMax <= Long.MaxValue.toDouble,
      f"goertzel overflow envelope: window=$window coeff=$coeff " +
        f"shift=$shift gives |s| up to $sMax%.3g (resonator gain " +
        f"1/sin(omega)=${1.0 / sinw}%.3g); c*s1*s2 would exceed 2^63 — " +
        "shrink the window or pick a bin farther from DC/Nyquist")
    import spark.implicits._
    val div = 1L << shift
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { b =>
        val m = b.media
        wavDataSlice(m) match {
          case None => Iterator.empty
          case Some((dataFrom, dataLen)) =>
            val nSamples = dataLen / 2
            val nWindows = (nSamples + window - 1) / window
            (0 until nWindows).iterator.map { w =>
              val from = w * window
              val until = math.min(from + window, nSamples)
              var s1 = 0L
              var s2 = 0L
              var k = from
              while (k < until) {
                val x = ((m(dataFrom + 2 * k) & 0xff) |
                  (m(dataFrom + 2 * k + 1) << 8)).toShort.toLong
                // overflow-checked: fail loudly, never wrap (r15 advisor)
                val s = Math.subtractExact(
                  Math.addExact(x, Math.multiplyExact(coeff, s1) / div), s2)
                s2 = s1
                s1 = s
                k += 1
              }
              GoertzelRow(b.doc_id, w, until - from, s1, s2,
                Math.subtractExact(
                  Math.addExact(Math.multiplyExact(s1, s1),
                    Math.multiplyExact(s2, s2)),
                  Math.multiplyExact(Math.multiplyExact(coeff, s1), s2)
                    / div))
            }
        }
      }
    }
  }

  /** DTMF-style DUAL-TONE test signal (m30): a valid mono 16-bit WAV
    * whose samples are the SUM of two ±3000 square waves, one row tone
    * and one column tone, digit d ∈ 0..3 → (row bin 3+⌊d∕2⌋, col bin
    * 6+2·(d mod 2)) of the window-96 Goertzel bank. Bin k's square
    * wave has half-period 96∕(2k) samples (16∕12∕8∕6 — all integer),
    * so every window of 96 holds a WHOLE number of periods of every
    * bank tone: square-wave harmonics sit at odd multiples (9, 15, …
    * ∕ 12, 20, … ∕ 18, 30, … ∕ 24, 40, …) and none collides with
    * another bank bin — exact-DFT orthogonality makes the per-digit
    * argmax decode clean, with only fixed-point truncation residue in
    * the off bins. Pure integer formula, so a SQL oracle synthesizes
    * every sample: s[n] = 3000·sq(n, h_r) + 3000·sq(n, h_c),
    * sq(n, h) = +1 iff (n div h) even. */
  def buildToneWav(digit: Int, nSamples: Int): Array[Byte] = {
    require(digit >= 0 && digit <= 3, s"digit must be 0..3: $digit")
    val hr = 96 / (2 * (3 + digit / 2))  // 16 or 12
    val hc = 96 / (2 * (6 + 2 * (digit % 2))) // 8 or 6
    val data = new Array[Byte](2 * nSamples)
    var n = 0
    while (n < nSamples) {
      def sq(h: Int): Int = if ((n / h) % 2 == 0) 1 else -1
      val s = 3000 * sq(hr) + 3000 * sq(hc)
      data(2 * n) = (s & 0xff).toByte
      data(2 * n + 1) = ((s >> 8) & 0xff).toByte
      n += 1
    }
    buildWav(8000, 1, data)
  }

  /** Deterministic broadband "noise" WAV for m32's spectral-flatness
    * contrast class: s16(i) = (H32(id:i) mod 4001) − 2000 with H32 the
    * portable first-8-md5-hex hash — a pure function of (doc, sample)
    * both engines replay, spectrally flat across the m30 bank bins
    * (unlike the tone class, which concentrates on 2 of 4). */
  def buildNoiseWav(id: Long, nSamples: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val data = new Array[Byte](2 * nSamples)
    var n = 0
    while (n < nSamples) {
      val d = md.digest(s"$id:$n".getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val s = (h % 4001L).toInt - 2000
      data(2 * n) = (s & 0xff).toByte
      data(2 * n + 1) = ((s >> 8) & 0xff).toByte
      n += 1
    }
    buildWav(8000, 1, data)
  }

  /** The window-96 Goertzel bank m30 probes: (bin k, Q14 coeff
    * round(2·cos(2πk∕96)·2¹⁴)) — pinned literals (the DctQ14
    * discipline), spec re-derives them from cos. */
  val DtmfBank: Seq[(Int, Long)] =
    Seq(3 -> 32138L, 4 -> 31651L, 6 -> 30274L, 8 -> 28378L)

  /** Locate the `data` chunk of a RIFF WAVE payload: (offset, length),
    * or None when the container is not WAVE / the chunk is absent /
    * a size field is corrupt. Shared by [[wavEnergy]] and [[pcmPeaks]]
    * so both decode EXACTLY the same sample span. */
  private def wavDataSlice(m: Array[Byte]): Option[(Int, Int)] = {
    if (!isRiff(m, "WAVE")) return None
    // chunk walk: [id(4) size(4) payload(size)] from offset 12
    var off = 12
    while (off + 8 <= m.length) {
      val size = (m(off + 4) & 0xff) | ((m(off + 5) & 0xff) << 8) |
        ((m(off + 6) & 0xff) << 16) | ((m(off + 7) & 0xff) << 24)
      if (size >= 0 && m(off) == 'd' && m(off + 1) == 'a' &&
          m(off + 2) == 't' && m(off + 3) == 'a') {
        val dataFrom = off + 8
        return Some((dataFrom, math.min(size, m.length - dataFrom)))
      } else if (size < 0 || size > m.length - off - 8) {
        // corrupt size: stop, no spin. Oversized NON-data chunks count
        // as corrupt too — nothing can follow them, and the word-aligned
        // advance `8 + size + (size & 1)` would overflow Int for sizes
        // near Int.MaxValue, wrapping `off` negative and crashing the
        // walk instead of skipping
        return None
      } else off += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** INTEGER DECIMATION resample of a 16-bit PCM WAV — downsample by
    * integer `factor` with a per-channel length-`factor` boxcar mean
    * (floorDiv) as the anti-alias: output frame j, channel c =
    * floorDiv(Σ_{i∈[jF,(j+1)F)} s(i,c), F). Channels stay separate (a
    * flat decimation of the interleaved stream would mix L into R),
    * only COMPLETE input groups emit a frame, and the result is a
    * VALID WAV at rate/factor with the same channel count — so
    * downstream walks ([[wavEnergy]], [[pcmPeaks]]) run on it
    * unchanged. All-integer arithmetic: the oracle replays every
    * output sample from the blob-fill formula. None for non-WAV /
    * non-16-bit payloads. */
  def decimateWav(m: Array[Byte], factor: Int): Option[Array[Byte]] = {
    require(factor >= 1, "factor must be >= 1")
    if (!isRiff(m, "WAVE") || m.length < 44) return None
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    val ch = buf.getShort(22).toInt
    val rate = buf.getInt(24)
    if (buf.getShort(34) != 16 || ch < 1 || rate <= 0) return None
    wavDataSlice(m) match {
      case None => None
      case Some((from, len)) =>
        val nFrames = (len / 2) / ch
        val outFrames = nFrames / factor
        val out = new Array[Byte](outFrames * ch * 2)
        var j = 0
        while (j < outFrames) {
          var c = 0
          while (c < ch) {
            var sum = 0L
            var i = 0
            while (i < factor) {
              val k = (j * factor + i) * ch + c
              sum += ((m(from + 2 * k) & 0xff) |
                (m(from + 2 * k + 1) << 8)).toShort.toLong
              i += 1
            }
            val v = Math.floorDiv(sum, factor).toInt
            val o = (j * ch + c) * 2
            out(o) = (v & 0xff).toByte
            out(o + 1) = ((v >> 8) & 0xff).toByte
            c += 1
          }
          j += 1
        }
        Some(buildWav(rate / factor, ch, out))
    }
  }

  /** Header + sample witness of a 16-bit PCM WAV: (sample_rate,
    * n_channels, n_samples, sample sum, sample energy) over the
    * RIFF-walked data chunk — the cheap integrity summary gates hash
    * after a transform ([[decimateWav]]) instead of shipping payloads.
    * None for non-WAV payloads. */
  /** PEAK NORMALIZATION of a 16-bit PCM WAV — the standard audio
    * preprocessing gain pass: scale every sample so the loudest hits
    * `target` (≈ −0.8 dBFS at the default 30000). Gain is 16.16
    * FIXED-POINT integer — g = target·2¹⁶ div peak, sample' =
    * clamp(s·g div 2¹⁶) — so the rewrite is bit-exact and a SQL oracle
    * replays every output sample (both engines truncate integer
    * division toward zero, including negative samples). A silent file
    * (peak 0) passes through unchanged; the container is rebuilt
    * byte-identical except the sample data, so downstream walks
    * ([[wavEnergy]], [[wavStats]]) run on it unchanged. Floor gain can
    * land the new peak at target−1 (g rounds down) — the oracle
    * replays that too. None for non-WAV / non-16-bit payloads. */
  def normalizeWavPeak(m: Array[Byte], target: Int = 30000)
      : Option[Array[Byte]] = {
    if (!isRiff(m, "WAVE") || m.length < 44) return None
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getShort(34) != 16) return None
    wavDataSlice(m).map { case (from, len) =>
      val n = len / 2
      var peak = 0L
      var k = 0
      while (k < n) {
        val s = ((m(from + 2 * k) & 0xff) |
          (m(from + 2 * k + 1) << 8)).toShort.toLong
        val a = math.abs(s)
        if (a > peak) peak = a
        k += 1
      }
      val out = m.clone()
      if (peak > 0L) {
        val g = target.toLong * 65536L / peak
        k = 0
        while (k < n) {
          val s = ((m(from + 2 * k) & 0xff) |
            (m(from + 2 * k + 1) << 8)).toShort.toLong
          var v = s * g / 65536L
          if (v > 32767L) v = 32767L
          if (v < -32768L) v = -32768L
          out(from + 2 * k) = (v & 0xff).toByte
          out(from + 2 * k + 1) = ((v >> 8) & 0xff).toByte
          k += 1
        }
      }
      out
    }
  }

  def wavStats(m: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
    if (!isRiff(m, "WAVE") || m.length < 44) return None
    val buf = ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN)
    val ch = buf.getShort(22).toInt
    val rate = buf.getInt(24)
    wavDataSlice(m).map { case (from, len) =>
      val n = len / 2
      var k = 0
      var sum = 0L
      var energy = 0L
      while (k < n) {
        val s = ((m(from + 2 * k) & 0xff) |
          (m(from + 2 * k + 1) << 8)).toShort.toLong
        sum += s
        energy += s * s
        k += 1
      }
      (rate, ch, n.toLong, sum, energy)
    }
  }

  case class PeakRow(doc_id: Long, peak: Long)

  /** Per-document peak |sample| over the same RIFF-walked 16-bit PCM
    * decode as [[wavEnergy]] (shared [[wavDataSlice]] walk) — the
    * normalization numerator. One integer-max pass; docs whose data
    * chunk is absent or empty emit nothing, matching wavEnergy. */
  def pcmPeaks(spark: SparkSession, media: DataFrame): Dataset[PeakRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { b =>
        val m = b.media
        wavDataSlice(m) match {
          case None => Iterator.empty
          case Some((dataFrom, dataLen)) =>
            val nSamples = dataLen / 2
            if (nSamples == 0) Iterator.empty
            else {
              var peak = 0L
              var k = 0
              while (k < nSamples) {
                val s = ((m(dataFrom + 2 * k) & 0xff) |
                  (m(dataFrom + 2 * k + 1) << 8)).toShort.toLong
                val a = math.abs(s)
                if (a > peak) peak = a
                k += 1
              }
              Iterator.single(PeakRow(b.doc_id, peak))
            }
        }
      }
    }
  }

  case class ZcrRow(doc_id: Long, window_idx: Int, n_samples: Int,
      dc_mean: Long, n_crossings: Int)

  /** Per-window ZERO-CROSSING RATE (after DC removal) over the same
    * RIFF-walked 16-bit PCM decode as [[wavEnergy]] (shared
    * [[wavDataSlice]] walk) — the voicing/noisiness signal audio
    * pipelines pair with energy: high energy + low ZCR reads as voiced
    * speech/tone, high ZCR as fricatives or broadband noise, and the
    * two together drive the speech/music/silence triage that decides
    * which clips are worth a transcription pass. Raw sign-bit ZCR is
    * DEGENERATE on a DC-offset signal (a waveform that never crosses
    * zero reports 0 everywhere regardless of content — true of any
    * unsigned-ish payload), so the standard practice is built in: each
    * window's integer mean is its DC estimate and a crossing is a flip
    * of (sample < mean) between ADJACENT samples. Integer-exact end to
    * end (floorDiv mean, no float anywhere); pairs straddling a window
    * boundary belong to neither window, so every window's count is a
    * pure function of its own samples and the result is
    * partition-order free. Windows mirror [[wavEnergy]] exactly (same
    * index, same short last window), so the two features join per
    * (doc, window) without re-decoding. */
  def wavZcr(spark: SparkSession, media: DataFrame,
      window: Int): Dataset[ZcrRow] = {
    require(window > 0, "window must be positive")
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { b =>
        val m = b.media
        wavDataSlice(m) match {
          case None => Iterator.empty
          case Some((dataFrom, dataLen)) =>
            val nSamples = dataLen / 2
            val nWindows = (nSamples + window - 1) / window
            (0 until nWindows).iterator.map { w =>
              val from = w * window
              val until = math.min(from + window, nSamples)
              def s16(k: Int): Long = ((m(dataFrom + 2 * k) & 0xff) |
                (m(dataFrom + 2 * k + 1) << 8)).toShort.toLong
              var sum = 0L
              var k = from
              while (k < until) { sum += s16(k); k += 1 }
              val mu = Math.floorDiv(sum, (until - from).toLong)
              var crossings = 0
              k = from + 1
              while (k < until) {
                if ((s16(k - 1) < mu) != (s16(k) < mu)) crossings += 1
                k += 1
              }
              ZcrRow(b.doc_id, w, until - from, mu, crossings)
            }
        }
      }
    }
  }

  def sampleFrames(spark: SparkSession, media: DataFrame,
      stride: Int): Dataset[FrameRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.flatMap { b =>
        val slices = aviFrameSlices(b.media)
        if (slices.nonEmpty) {
          (0 until slices.length by stride).iterator.map { f =>
            val (from, len) = slices(f)
            FrameRow(b.doc_id, f,
              java.util.Arrays.copyOfRange(b.media, from, from + len))
          }
        } else {
          val n = (b.media.length + b.frame_size - 1) / b.frame_size
          (0 until n by stride).iterator.map { f =>
            val from = f * b.frame_size
            val until = math.min(from + b.frame_size, b.media.length)
            FrameRow(b.doc_id, f,
              java.util.Arrays.copyOfRange(b.media, from, until))
          }
        }
      }
    }
  }

  /** VAD-style active-segment extraction over [[wavEnergy]] windows: a
    * window is ACTIVE when its energy clears `threshold`; maximal runs of
    * consecutive active windows are merged into segments (gaps-and-islands:
    * window_idx − per-doc rank is constant within a run), and each doc
    * reduces to (n_segments, max_seg_len, n_active) — the speech/silence
    * structure an audio curation pipeline filters on before any decode-
    * heavy stage. Docs with no active window produce no row (at corpus
    * scale the active set is the interesting one; left-join against the
    * doc universe to densify). The per-doc window is bounded by blob
    * length — thousands of windows at most, never corpus-wide. */
  def activeSegments(energies: DataFrame, threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("window_idx"))
    energies.filter(col("energy") >= threshold)
      .withColumn("__grp", col("window_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        max(col("__len")).as("max_seg_len"),
        sum(col("__len")).as("n_active"))
  }
}
