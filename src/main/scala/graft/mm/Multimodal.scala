package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side machinery — schema, partition-parallel batch processing
  * via `mapPartitions` over a typed Dataset (the Scala analogue of
  * PySpark's `mapInPandas` batch UDF), output schema, and the
  * queries-surface wiring — is real and tested. All three codecs are REAL
  * pure-JVM parsers for classic header-described formats: uncompressed
  * 24-bit BMP (image), PCM WAV (audio), and uncompressed RIFF AVI with DIB
  * frames (video) — so every decode stage exercises a genuine byte-level
  * container parse. Compressed codecs (JPEG/H.264/…) would slot into the
  * same dispatch via a library; swapping them changes only
  * [[Codecs.decode]]; every
  * distributed concern (no driver collect, per-partition batching, binary
  * columns never shuffled except by explicit repartition) stays as-is.
  */
case class MediaMeta(width: Int, height: Int, sampleRate: Int,
  durationMs: Long, format: String)

case class MediaHash(media_id: Long, ahash: Long, dhash: Long)

case class AudioFp(media_id: Long, fp: Long)

case class VideoFrameHash(media_id: Long, frame_idx: Int, fhash: Long)

case class MediaFile(media_id: Long, kind: String, content: Array[Byte],
  meta: MediaMeta)

case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
  n_samples: Int, byte_mean: Double, byte_entropy: Double, hist: Array[Long],
  thumb_bytes: Int)

object Codecs {

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** Uncompressed 24-bpp BMP → pixel channel bytes (0-255), rows in stored
    * (bottom-up) order with row padding stripped. Returns None when the
    * header is not a parseable BMP. Layout per the public BITMAPFILEHEADER/
    * BITMAPINFOHEADER spec: 'BM' magic, pixel-array offset at byte 10,
    * width/height at 18/22, bpp at 28, rows padded to 4 bytes. */
  def decodeBmp(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val off = u32le(b, 10)
    val width = u32le(b, 18)
    val height = u32le(b, 22)
    val bpp = u16le(b, 28)
    if (bpp != 24 || width <= 0 || height <= 0 || off < 0) return None
    // all size arithmetic in Long: a hostile width/height/offset must fail
    // the bounds check, not overflow Int into a crash
    val rowBytesL = width.toLong * 3
    val strideL = (rowBytesL + 3) / 4 * 4
    if (off + strideL * height > b.length || rowBytesL * height > Int.MaxValue)
      return None
    val rowBytes = rowBytesL.toInt
    val stride = strideL.toInt
    val out = new Array[Int](rowBytes * height)
    var r = 0
    while (r < height) {
      var i = 0
      while (i < rowBytes) {
        out(r * rowBytes + i) = b(off + r * stride + i) & 0xff
        i += 1
      }
      r += 1
    }
    Some(out)
  }

  /** 8×8 (gw×gh) box-averaged grayscale grid of a decoded 24-bpp channel
    * stream (rows of 3·width bytes). Pure integer math — Long channel
    * sums, one integer division per cell — so the grid (and every hash
    * derived from it) is bit-deterministic on any platform. Cells outside
    * a short image (height < gh) read 0. */
  private[mm] def grayGrid(samples: Array[Int], width: Int,
                           gw: Int, gh: Int): Array[Long] = {
    val rowBytes = width * 3
    val height = samples.length / rowBytes
    val out = new Array[Long](gw * gh)
    if (height == 0) return out
    var gy = 0
    while (gy < gh) {
      val y0 = gy * height / gh
      val y1 = math.max((gy + 1) * height / gh, y0 + 1)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * width / gw
        val x1 = math.max((gx + 1) * width / gw, x0 + 1)
        var sum = 0L; var cnt = 0L
        var y = y0
        while (y < height && y < y1) {
          var x = x0
          while (x < x1) {
            val p = y * rowBytes + x * 3
            sum += samples(p) + samples(p + 1) + samples(p + 2)
            cnt += 1
            x += 1
          }
          y += 1
        }
        out(gy * gw + gx) = if (cnt == 0) 0L else sum / cnt
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Average hash: 64 bits, bit (y·8+x) set when the 8×8 grid cell's
    * luminance exceeds the grid mean (exact cross-multiplied compare —
    * no float). Robust to uniform recoloring and resizing; the classic
    * first-pass perceptual image fingerprint. */
  def aHash(samples: Array[Int], width: Int): Long = {
    val g = grayGrid(samples, width, 8, 8)
    val tot = g.sum
    var h = 0L
    var i = 0
    while (i < 64) {
      if (g(i) * 64 > tot) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Difference hash: 9×8 grid, bit (y·8+x) set when cell (x+1, y)
    * is brighter than cell (x, y). Captures gradient structure, so it
    * survives brightness shifts exactly and small translations mostly —
    * the pairing complement to [[aHash]]. */
  def dHash(samples: Array[Int], width: Int): Long = {
    val g = grayGrid(samples, width, 9, 8)
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) h |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    h
  }

  /** PCM WAV → sample stream normalized to 0-255 (16-bit samples take their
    * high byte + 128; 8-bit pass through). Walks RIFF chunks to the 'fmt '
    * and 'data' chunks per the public WAVE spec. Returns None when the
    * container or encoding is not parseable PCM. */
  /** Haitsma–Kalker-style energy-delta fingerprint of a 0-255 PCM sample
    * stream (the audio leg of the perceptual family beside [[aHash]]/
    * [[dHash]]): frames of 64 samples at hop 32, 4 contiguous 16-sample
    * band energies per frame (Σ(x−128)², exact longs), fingerprint bit
    * (t, b) = [E(t,b) > E(t−1,b)] over 16 frame deltas × 4 bands = 64
    * bits. Energy DELTAS, not energies, so the fingerprint survives
    * uniform gain changes (sign of a difference of scaled energies is the
    * sign of the original difference); out-of-range samples read as 128
    * (silence, zero energy), so short clips fingerprint without a special
    * case. Pure integer math end-to-end — bit-reproducible on any
    * partitioning, like every graft perceptual hash. Scheme after the
    * public Haitsma & Kalker ISMIR 2002 design (32 frames × 33 bands in
    * the paper; 16 × 4 here to land in one band-joinable i64). */
  def audioFingerprint(samples: Array[Int]): Long = {
    val hop = 32
    val bandLen = 16
    def energy(t: Int, b: Int): Long = {
      val base = t * hop + b * bandLen
      var e = 0L
      var i = 0
      while (i < bandLen) {
        val idx = base + i
        val x = if (idx < samples.length) samples(idx) - 128 else 0
        e += x.toLong * x
        i += 1
      }
      e
    }
    var fp = 0L
    var t = 1
    while (t <= 16) {
      var b = 0
      while (b < 4) {
        fp <<= 1
        if (energy(t, b) > energy(t - 1, b)) fp |= 1L
        b += 1
      }
      t += 1
    }
    fp
  }

  def decodeWav(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 44) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    // chunk walk in Long with a monotonic-progress guard: a hostile size
    // field (negative as Int, or huge) must end the parse as None, never
    // loop forever or index out of bounds
    var pos = 12L
    var bits = -1
    var data: Option[(Int, Int)] = None
    while (pos + 8 <= b.length && (bits < 0 || data.isEmpty)) {
      val p = pos.toInt
      val id = new String(b.slice(p, p + 4), "US-ASCII")
      val size = u32le(b, p + 4).toLong & 0xffffffffL // unsigned
      if (id == "fmt " && pos + 8 + 16 <= b.length) {
        if (u16le(b, p + 8) != 1) return None // PCM only
        bits = u16le(b, p + 8 + 14)
      } else if (id == "data") {
        data = Some((p + 8, math.min(size, (b.length - pos - 8)).toInt))
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    (bits, data) match {
      case (8, Some((o, n))) =>
        Some(Array.tabulate(n)(i => b(o + i) & 0xff))
      case (16, Some((o, n))) =>
        val m = n / 2
        Some(Array.tabulate(m) { i =>
          val s = (u16le(b, o + 2 * i) << 16) >> 16 // sign-extend
          (s >> 8) + 128
        })
      case _ => None
    }
  }

  /** Uncompressed AVI ('DIB ' vids stream) → concatenated per-frame pixel
    * channel bytes, frames in stream order, row padding stripped. Walks the
    * public RIFF/AVI layout: 'RIFF…AVI ', LIST 'hdrl' → 'avih' main header
    * (frame width/height at +32/+36), LIST 'movi' → '##db'/'##dc' frame
    * chunks whose payload is a bottom-up DIB pixel array (rows padded to 4
    * bytes, like BMP). Returns None when the container or stream is not
    * parseable uncompressed video. Same hostile-input posture as the other
    * codecs: Long arithmetic + monotonic chunk walk, never a crash/hang. */
  def decodeAvi(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 24) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')) return None
    var width = -1; var height = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def chunkId(p: Int) = new String(b.slice(p, p + 4), "US-ASCII")
    def walk(from: Long, until: Long, depth: Int = 0): Boolean = {
      // legit AVI nests 3 LIST levels (RIFF → hdrl/movi → strl); a hostile
      // file can nest one per 12 bytes, and unbounded recursion would be a
      // StackOverflowError — an Error, so it ESCAPES the Option fallback
      // and kills the task, unlike the iterative BMP/WAV walks
      if (depth > 16) return false
      var pos = from
      while (pos + 8 <= until) {
        val p = pos.toInt
        val id = chunkId(p)
        val size = u32le(b, p + 4).toLong & 0xffffffffL
        if (pos + 8 + size > until) return false // hostile/truncated size
        if (id == "LIST" && size >= 4) {
          val sub = chunkId(p + 8)
          if (sub == "hdrl" || sub == "movi" || sub == "strl")
            if (!walk(pos + 12, pos + 8 + size, depth + 1)) return false
        } else if (id == "avih" && size >= 40) {
          width = u32le(b, p + 8 + 32)
          height = u32le(b, p + 8 + 36)
        } else if (id.length == 4 && id.substring(2).matches("d[bc]")) {
          frames += ((p + 8, size.toInt))
        }
        pos += 8 + size + (size & 1) // word-aligned, monotonic
      }
      true
    }
    val riffSize = u32le(b, 4).toLong & 0xffffffffL
    if (!walk(12, math.min(8 + riffSize, b.length.toLong))) return None
    // cap dimensions BEFORE any product: with width/height ≤ 65535 every
    // Long product below is ≤ ~3.5e18 and cannot wrap (a hostile
    // 0x7fffffff×0x7fffffff header would otherwise overflow the guards
    // themselves and crash the copy loop)
    if (width <= 0 || height <= 0 || width > 0xffff || height > 0xffff ||
        frames.isEmpty) return None
    val rowBytesL = width.toLong * 3
    val strideL = (rowBytesL + 3) / 4 * 4
    if (strideL * height > Int.MaxValue ||
        rowBytesL * height * frames.length > Int.MaxValue) return None
    val rowBytes = rowBytesL.toInt; val stride = strideL.toInt
    if (frames.exists { case (_, n) => n.toLong < strideL * height }) return None
    val perFrame = rowBytes * height
    val out = new Array[Int](perFrame * frames.length)
    var f = 0
    while (f < frames.length) {
      val (off, _) = frames(f)
      var r = 0
      while (r < height) {
        var i = 0
        while (i < rowBytes) {
          out(f * perFrame + r * rowBytes + i) = b(off + r * stride + i) & 0xff
          i += 1
        }
        r += 1
      }
      f += 1
    }
    Some(out)
  }

  /** Deterministic fallback decode for unknown formats / corrupt headers:
    * interprets content bytes as the decoded sample stream, so decode
    * failures are data, not crashes, in a 100 TB pipeline. */
  def decodeStub(content: Array[Byte]): Array[Int] =
    content.map(b => b & 0xff)

  /** Format dispatch: real parse for bmp/wav/avi, fallback otherwise. */
  def decode(content: Array[Byte], meta: MediaMeta): Array[Int] =
    meta.format match {
      case "bmp" => decodeBmp(content).getOrElse(decodeStub(content))
      case "wav" => decodeWav(content).getOrElse(decodeStub(content))
      case "avi" => decodeAvi(content).getOrElse(decodeStub(content))
      case _     => decodeStub(content)
    }

  /** "Resize": stride-sample the decoded stream to ≤ target elements. */
  def resize(samples: Array[Int], target: Int): Array[Int] =
    if (samples.length <= target) samples
    else {
      val stride = samples.length.toDouble / target
      Array.tabulate(target)(i => samples((i * stride).toInt))
    }

  /** "Frame sample": every k-th frame of `frameSize` samples. */
  def frameSample(samples: Array[Int], frameSize: Int, everyK: Int): Array[Array[Int]] =
    samples.grouped(frameSize).zipWithIndex
      .collect { case (f, i) if i % everyK == 0 => f }.toArray

  // ------------------------------------------------------- test encoders
  /** Minimal uncompressed 24-bpp BMP around raw channel bytes (row-major,
    * `width` pixels per row, zero-padded to full rows + 4-byte stride). */
  def encodeBmp(channels: Array[Byte], width: Int): Array[Byte] = {
    val rowBytes = width * 3
    val height = math.max(1, (channels.length + rowBytes - 1) / rowBytes)
    val stride = (rowBytes + 3) / 4 * 4
    val out = java.nio.ByteBuffer.allocate(54 + stride * height)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + stride * height)
      .putInt(0).putInt(54)
    out.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(stride * height).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var r = 0
    while (r < height) {
      var i = 0
      while (i < stride) {
        val src = r * rowBytes + i
        val v: Byte =
          if (i < rowBytes && src < channels.length) channels(src) else 0
        out.put(v)
        i += 1
      }
      r += 1
    }
    out.array()
  }

  /** Minimal PCM16 mono WAV whose normalized decode round-trips the input
    * bytes: byte b → sample (b-128)<<8 → decode → (s>>8)+128 = b. */
  def encodeWav(bytes: Array[Byte], sampleRate: Int): Array[Byte] = {
    val n = bytes.length
    val out = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(2 * n)
    bytes.foreach(b => out.putShort((((b & 0xff) - 128) << 8).toShort))
    out.array()
  }
  /** Minimal uncompressed AVI ('DIB ' vids stream) around raw channel
    * bytes: frames of `width`×`height` 24-bpp DIBs, zero-padded to whole
    * frames. Decodes back (frame-concatenated, padding stripped) via
    * [[decodeAvi]]. */
  def encodeAvi(channels: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val rowBytes = width * 3
    val stride = (rowBytes + 3) / 4 * 4
    val perFrameRaw = rowBytes * height
    val frameBytes = stride * height
    val nFrames = math.max(1, (channels.length + perFrameRaw - 1) / perFrameRaw)
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String) = out.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); out.putInt(riffSize); fourcc("AVI ")
    fourcc("LIST"); out.putInt(hdrlSize); fourcc("hdrl")
    fourcc("avih"); out.putInt(56)
    out.putInt(33333).putInt(0).putInt(0).putInt(0).putInt(nFrames)
      .putInt(0).putInt(1).putInt(frameBytes).putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); out.putInt(strlSize); fourcc("strl")
    fourcc("strh"); out.putInt(56)
    fourcc("vids"); fourcc("DIB "); out.putInt(0).putShort(0).putShort(0)
      .putInt(0).putInt(1).putInt(30).putInt(0).putInt(nFrames)
      .putInt(frameBytes).putInt(0).putInt(0)
      .putShort(0).putShort(0).putShort(0).putShort(0)
    fourcc("strf"); out.putInt(40)
    out.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(frameBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    fourcc("LIST"); out.putInt(moviSize); fourcc("movi")
    var f = 0
    while (f < nFrames) {
      fourcc("00db"); out.putInt(frameBytes)
      var r = 0
      while (r < height) {
        var i = 0
        while (i < stride) {
          val src = f * perFrameRaw + r * rowBytes + i
          out.put(if (i < rowBytes && src < channels.length) channels(src)
                  else 0.toByte)
          i += 1
        }
        r += 1
      }
      f += 1
    }
    out.array()
  }
}

object Multimodal {

  val ImageWidth = 16
  val VideoWidth = 8
  val VideoHeight = 4

  /** Deterministic synthetic media corpus derived from the documents table:
    * the document's UTF-8 bytes become REAL media payloads — a 24-bpp BMP
    * (pixel channels = text bytes) for images, a PCM16 WAV (samples = text
    * bytes, recoverable exactly by the normalized decode) for audio, and an
    * uncompressed AVI (8×4 24-bpp DIB frames) for video. Partitioning
    * follows the source scan — binary blobs are never shuffled. */
  def syntheticMedia(docs: DataFrame): Dataset[MediaFile] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        val raw = text.getBytes("UTF-8")
        val (content, format) = kind match {
          case "image" => (Codecs.encodeBmp(raw, ImageWidth), "bmp")
          case "audio" => (Codecs.encodeWav(raw, 16000), "wav")
          case _       => (Codecs.encodeAvi(raw, VideoWidth, VideoHeight), "avi")
        }
        MediaFile(id, kind, content,
          MediaMeta(width = if (kind == "video") VideoWidth else ImageWidth,
            height = if (kind == "video") VideoHeight else 480,
            sampleRate = 16000, durationMs = nChars * 10, format = format))
      }
  }

  val HistBins = 16

  /** Directory where fingerprint tables are published for cross-engine
    * verification. The codec half of the multimodal pipeline (BMP/WAV/AVI
    * decode → 64-bit fingerprints) has no SQL form, but everything AFTER
    * the fingerprint — hamming banding, hot-key caps, overlap thresholds —
    * is pure relational logic. Publishing the fingerprint frame as parquet
    * lets the DuckDB twin read the same integers and independently verify
    * the pair logic (an all-pairs-free replay of the banding join), which
    * converts the `mm_*_pairs` entries from rows-only to hash-checked.
    * Overridable via -Dgraft.artifact.dir so a benchmark run at a different
    * scale factor never clobbers the artifacts a verification run wrote. */
  def artifactDir: String =
    sys.props.getOrElse("graft.artifact.dir", "/tmp/graft_artifacts")

  /** Write `df` to `artifactDir/name` (overwrite) and return the
    * re-read materialized table — the filesystem twin of
    * [[graft.dedup.FrameStore]]: downstream consumers (the Spark pair
    * join AND the DuckDB oracle) both feed from the same published leaf. */
  def publishFingerprints(df: DataFrame, name: String): DataFrame = {
    val path = s"$artifactDir/$name"
    // Write at the computation's NATURAL parallelism — the round-11 sf100
    // sweep caught the original `coalesce(4)` here collapsing the entire
    // upstream synth+fingerprint pipeline onto 4 tasks (coalesce pulls its
    // parent stages down to the target count; a 32-core box ran the 5 M-doc
    // WAV fingerprint pass 4-wide), AND handing the re-read a 4-split scan
    // that the banding explode→join→agg consumer then inherited. File
    // count is irrelevant to the DuckDB twin (it reads a glob).
    df.write.mode("overwrite").parquet(path)
    // The consumer fans out (×4 band explode + self-join): give it the
    // machine's parallelism regardless of how few files the artifact has —
    // the shuffle moves only (media_id, fingerprint) longs.
    val spark = df.sparkSession
    spark.read.parquet(path)
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Perceptual hashes of the image rows: decode the BMP per partition,
    * compute [[Codecs.aHash]]/[[Codecs.dHash]] — the near-dup fingerprint
    * leg of multimodal curation (text has MinHash, embeddings have LSH;
    * images get aHash/dHash). Undecodable payloads are dropped, like
    * [[extractFeatures]]' stub path. Binary blobs never shuffle: the only
    * thing that leaves the scan partition is (media_id, 2 longs). */
  def perceptualHashes(media: Dataset[MediaFile]): Dataset[MediaHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "image").mapPartitions { it =>
      it.flatMap { m =>
        Codecs.decodeBmp(m.content).map { samples =>
          MediaHash(m.media_id, Codecs.aHash(samples, m.meta.width),
            Codecs.dHash(samples, m.meta.width))
        }
      }
    }
  }

  /** Hamming-banded near-duplicate image pairs over a (media_id, ahash,
    * dhash) frame — the [[graft.dedup.Dedup]] LSH-banding pattern applied
    * to perceptual bits: the 64-bit dhash splits into 4 bands of 16 bits;
    * candidates share at least one exact band (pigeonhole: any pair
    * within hamming distance 3 MUST agree on some band, so recall is
    * complete at maxHamming ≤ 3); the exact hamming verify runs only on
    * candidates. The only join key is the 16-bit band value — no
    * all-pairs stage at any corpus size, same as text LSH. */
  def nearDupImages(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"4-band/16-bit banding guarantees full recall only to hamming 3; " +
        s"got $maxHamming - add bands before raising the radius")
    val bands = hashes.select(col("media_id"), col("dhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("dhash"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("media_id"), col("dhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("m1"), col("b.media_id").as("m2"),
        col("a.dhash").as("h1"), col("b.dhash").as("h2"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("m1"), col("m2"), col("hamming").cast("int").as("hamming"))
      .orderBy("m1", "m2")
  }

  /** Audio fingerprints of the audio rows — the WAV counterpart of
    * [[perceptualHashes]]: decode PCM per partition, compute
    * [[Codecs.audioFingerprint]]. Undecodable payloads are dropped;
    * binary blobs never shuffle — only (media_id, one long) leaves the
    * scan partition. */
  def audioFingerprints(media: Dataset[MediaFile]): Dataset[AudioFp] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "audio").mapPartitions { it =>
      it.flatMap { m =>
        Codecs.decodeWav(m.content).map { samples =>
          AudioFp(m.media_id, Codecs.audioFingerprint(samples))
        }
      }
    }
  }

  /** Hamming-banded near-duplicate audio pairs — [[nearDupImages]]' exact
    * banding machinery over the 64-bit audio fingerprint (same pigeonhole
    * recall guarantee: 4×16-bit bands are complete to hamming 3). */
  def nearDupAudio(fps: DataFrame, maxHamming: Int): DataFrame =
    nearDupImages(fps.select(col("media_id"), col("fp").as("dhash")),
      maxHamming)

  /** Per-sampled-frame perceptual hashes of the video rows — the video
    * leg of the perceptual family: decode the AVI per partition, keep
    * every `everyK`-th frame ([[Codecs.frameSample]] — a 2-hour video
    * need not hash all ~200k frames to be recognizable), [[Codecs.dHash]]
    * each sampled frame's DIB grid. Undecodable payloads are dropped like
    * the image/audio legs; only (media_id, frame_idx, one long) leaves
    * the scan partition — binary blobs never shuffle. */
  def videoFrameHashes(media: Dataset[MediaFile],
                       everyK: Int = 2): Dataset[VideoFrameHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { m =>
        Codecs.decodeAvi(m.content).toSeq.flatMap { samples =>
          val perFrame = m.meta.width * m.meta.height * 3
          Codecs.frameSample(samples, perFrame, everyK).zipWithIndex.map {
            case (f, i) =>
              VideoFrameHash(m.media_id, i * everyK,
                Codecs.dHash(f, m.meta.width))
          }
        }
      }
    }
  }

  /** Video near-duplicate pairs by shared sampled-frame hashes — the
    * containment idea from text chunk-dedup applied to perceptual bits:
    * two videos match when ≥ `minShared` of their sampled frames hash
    * identically (re-encoded copies, clips, intros). The ONLY join key is
    * the exact 64-bit frame hash, so there is no all-pairs stage at any
    * corpus size; a frame hash appearing in more than `hotCap` videos
    * (black frames, color bars — the celebrity keys of video corpora) is
    * excluded from candidate generation, the same frequency cap as the
    * text LSH buckets. Within-video duplicate frames count once. */
  def nearDupVideos(frameHashes: DataFrame, minShared: Long = 2,
                    hotCap: Int = 32): DataFrame = {
    val fh = frameHashes.select(col("media_id"), col("fhash")).distinct()
    // hot-frame cap as a count over the fhash partition (fh is
    // (media, fhash)-distinct, so COUNT == distinct video count): the old
    // groupBy+join-back shuffled fh twice more — partial-agg exchange and
    // full-row join exchange, not ReuseExchange-shareable
    val keep = fh.withColumn("nf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fhash")))
      .filter(col("nf") <= hotCap).drop("nf")
    keep.as("a").join(keep.as("b"),
        col("a.fhash") === col("b.fhash") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("m1"), col("b.media_id").as("m2"))
      .groupBy("m1", "m2").agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
      .orderBy("m1", "m2")
  }

  /** Partition-parallel decode + feature extraction. One codec invocation
    * per row, batched by partition — no per-row task overhead, no driver
    * involvement; the natural Scala counterpart of a `mapInPandas` batch. */
  def extractFeatures(media: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val samples = Codecs.decode(m.content, m.meta)
        val n = samples.length
        val hist = new Array[Long](HistBins)
        var s = 0.0
        samples.foreach { v => hist(v * HistBins / 256) += 1; s += v }
        val entropy = hist.foldLeft(0.0) { (acc, c) =>
          if (c == 0) acc else { val p = c.toDouble / n; acc - p * math.log(p) / math.log(2) }
        }
        val thumb = Codecs.resize(samples, 64)
        val mean = if (n == 0) 0.0 else math.rint(s / n * 1e6) / 1e6
        MediaFeatures(m.media_id, m.kind, m.content.length, n,
          mean, math.rint(entropy * 1e6) / 1e6,
          hist, thumb.length)
      }
    }
  }
}
