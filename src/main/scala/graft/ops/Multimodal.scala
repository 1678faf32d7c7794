package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads are opaque
  * `binary` columns with typed metadata; decode / feature-extraction
  * runs as a batched partition-level transform (the Scala analog of
  * `mapInPandas`: one iterator per partition, schema declared up
  * front, arbitrary library calls inside).
  *
  * Third-party media codecs are NOT in this container; one format per
  * modality is implemented for real in pure JVM instead — P6/PPM
  * images, RIFF/WAV PCM audio, and YUV4MPEG2 (Y4M) video — each with
  * value-checked decode arithmetic under the driver gate. The
  * deterministic `decodeStub` survives only as the disclosed fallback
  * for payloads in none of the three formats; the Spark-side plumbing
  * (binary schema, partitioning, batch iterator shape, feature schema)
  * is real everywhere.
  */
object Multimodal {

  /** Input row for the partition-level decoder. */
  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features (what a real image/audio decoder would emit). */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: String,
      width: Int,     // fake-decoded dimensions
      height: Int,
      n_frames: Int)  // frame-sampling: 1 frame per 1024-byte chunk

  /** FALLBACK pseudo-decoder ===========================================
    * Payloads that are none of the three real formats (P6 / WAV / Y4M)
    * get deterministic length-derived pseudo-dimensions — a disclosed
    * stand-in for "call an arbitrary third-party codec here", which
    * this container cannot. Every modality has a REAL pure-JVM codec
    * above/below; this never shadows them (magic-sniff first).
    * ==================================================================
    */
  private def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    val width = (n % 512) + 16
    val height = (n / 512 % 512) + 16
    val frames = (n + 1023) / 1024
    (width, height, frames)
  }

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Batched feature extraction over binary payloads. Runs once per
    * partition with an iterator (no per-row task overhead), exactly the
    * execution shape a Python `mapInPandas` decoder would have.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      // per-partition init (a real decoder would open codecs here, once)
      rows.map { r =>
        // magic-sniff: genuinely decodable P6 / Y4M payloads get REAL
        // dimensions and frame counts; everything else falls back to
        // the disclosed length-derived pseudo-decoder
        val (w, h, f) = parsePpm(r.payload).map(p => (p.width, p.height, 1))
          .orElse(parseY4m(r.payload).map(v => (v.width, v.height, v.nFrames)))
          .getOrElse(decodeStub(r.payload))
        MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong,
          md5hex(r.payload), w, h, f)
      }
    }
  }

  /** Build a media table from the documents fixture: payload = UTF-8
    * bytes of the text (stand-in blob), media_type round-robins over
    * modalities. Partitioned by a hash of doc_id so payloads spread
    * evenly — the layout a 100 TB binary corpus needs (no partition
    * hotspotting by source/media_type).
    */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Resize: per-payload fixed-size thumbnail. STUB resampler ==========
    * a real deployment would decode + bilinear-resize here; the fake
    * nearest-neighbor byte sampler keeps the exact execution shape
    * (partition-level batch transform, binary in / fixed-width binary
    * out) and is deterministic for tests/oracles.
    * ==================================================================
    */
  final case class Thumbnail(doc_id: Long, media_type: String,
                             thumb: Array[Byte], thumb_checksum: String)

  def resize(media: Dataset[MediaRow], side: Int = 64): Dataset[Thumbnail] = {
    implicit val enc = Encoders.product[Thumbnail]
    val n = side * side
    media.mapPartitions { rows =>
      rows.map { r =>
        val src = r.payload
        val out = new Array[Byte](n)
        if (src.nonEmpty) {
          var i = 0
          while (i < n) { out(i) = src((i.toLong * src.length / n).toInt); i += 1 }
        }
        Thumbnail(r.doc_id, r.media_type, out, md5hex(out))
      }
    }
  }

  // ==== Real image codec: PPM (P6) ====================================
  // One genuinely-decoded format, pure JVM: binary P6 = ASCII header
  // ("P6\n<w> <h>\n255\n") + w*h RGB byte triplets. The synth / decode /
  // resize loop below does real header parsing and real nearest-neighbor
  // resampling over the 2-D pixel grid — so the stub disclosure above
  // now covers audio/video only.

  /** Deterministic P6 synthesis: dimensions derive from doc_id, pixel
    * bytes cycle through the UTF-8 text bytes. Gives every fixture doc
    * a real decodable image whose pixel arithmetic an external oracle
    * can reproduce without a codec.
    */
  def makePpm(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    val w = (8 + (docId % 24)).toInt
    val h = (8 + ((docId / 5) % 24)).toInt
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val data = new Array[Byte](w * h * 3)
    if (textBytes.nonEmpty) {
      var i = 0
      while (i < data.length) { data(i) = textBytes(i % textBytes.length); i += 1 }
    }
    header ++ data
  }

  /** Decoded P6: dimensions + offset of the pixel data in the payload.
    * Real parser: checks the magic, walks ASCII whitespace-separated
    * header tokens (comments excluded — synthesis never emits them),
    * validates maxval and payload length.
    */
  final case class Ppm(width: Int, height: Int, dataOffset: Int)

  def parsePpm(payload: Array[Byte]): Option[Ppm] = {
    if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6') return None
    var pos = 2
    def nextInt(): Int = {
      while (pos < payload.length && payload(pos).toChar.isWhitespace) pos += 1
      var v = 0
      var any = false
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
        v = v * 10 + (payload(pos) - '0'); pos += 1; any = true
      }
      if (any) v else -1
    }
    val (w, h, maxv) = (nextInt(), nextInt(), nextInt())
    pos += 1 // single whitespace byte after maxval, per spec
    if (w <= 0 || h <= 0 || maxv != 255) None
    else if (payload.length - pos < w * h * 3) None
    else Some(Ppm(w, h, pos))
  }

  /** Per-channel pixel sums of a decoded image — the numeric feature a
    * value oracle can check (wrong header parse or wrong byte layout
    * shifts every sum).
    */
  final case class ImageStats(doc_id: Long, width: Int, height: Int,
                              r_sum: Long, g_sum: Long, b_sum: Long)

  def ppmStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    implicit val enc = Encoders.product[ImageStats]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpm(r.payload).map { p =>
          var (rs, gs, bs) = (0L, 0L, 0L)
          var px = 0
          val n = p.width * p.height
          while (px < n) {
            val i = p.dataOffset + px * 3
            rs += r.payload(i) & 0xff
            gs += r.payload(i + 1) & 0xff
            bs += r.payload(i + 2) & 0xff
            px += 1
          }
          ImageStats(r.doc_id, p.width, p.height, rs, gs, bs)
        }
      }
    }
  }

  /** Image exposure/contrast QA through the same real P6 parse — the
    * screening pass an image-corpus curation runs before any model
    * sees a pixel: integer ITU-R BT.601 luma per pixel
    * (`299·R + 587·G + 114·B`, luma×1000 so everything stays exact),
    * luma sum + square sum (contrast = variance, derivable exactly
    * downstream), min/max (dynamic range), and under-/over-exposed
    * pixel counts at the given luma×1000 cuts. One decode map, no
    * state beyond the row — the wavStats shape for images.
    */
  final case class ImageQuality(doc_id: Long, n_px: Int, luma_sum: Long,
                                luma_sq_sum: Long, luma_min: Int,
                                luma_max: Int, n_under: Long, n_over: Long)

  def imageQuality(media: Dataset[MediaRow], under: Int = 30000,
                   over: Int = 225000): Dataset[ImageQuality] = {
    implicit val enc = Encoders.product[ImageQuality]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpm(r.payload).map { p =>
          var (ls, lss, nu, no) = (0L, 0L, 0L, 0L)
          var (lmin, lmax) = (Int.MaxValue, Int.MinValue)
          var px = 0
          val n = p.width * p.height
          while (px < n) {
            val i = p.dataOffset + px * 3
            val luma = 299 * (r.payload(i) & 0xff) +
              587 * (r.payload(i + 1) & 0xff) +
              114 * (r.payload(i + 2) & 0xff)
            ls += luma
            lss += luma.toLong * luma
            if (luma < lmin) lmin = luma
            if (luma > lmax) lmax = luma
            if (luma < under) nu += 1
            if (luma > over) no += 1
            px += 1
          }
          ImageQuality(r.doc_id, n, ls, lss, lmin, lmax, nu, no)
        }
      }
    }
  }

  /** Real nearest-neighbor resize over the decoded 2-D RGB grid to a
    * `side`×`side` P6 thumbnail; emits the re-encoded payload plus its
    * channel sums (the oracle-checkable arithmetic).
    */
  final case class ThumbStats(doc_id: Long, src_w: Int, src_h: Int,
                              thumb: Array[Byte], t_r_sum: Long, t_g_sum: Long, t_b_sum: Long)

  def resizePpm(media: Dataset[MediaRow], side: Int = 8): Dataset[ThumbStats] = {
    implicit val enc = Encoders.product[ThumbStats]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpm(r.payload).map { p =>
          val header = s"P6\n$side $side\n255\n".getBytes("US-ASCII")
          val data = new Array[Byte](side * side * 3)
          var (rs, gs, bs) = (0L, 0L, 0L)
          var t = 0
          while (t < side * side) {
            val (y, x) = (t / side, t % side)
            val (sy, sx) = (y * p.height / side, x * p.width / side)
            val i = p.dataOffset + (sy * p.width + sx) * 3
            data(t * 3) = r.payload(i)
            data(t * 3 + 1) = r.payload(i + 1)
            data(t * 3 + 2) = r.payload(i + 2)
            rs += r.payload(i) & 0xff
            gs += r.payload(i + 1) & 0xff
            bs += r.payload(i + 2) & 0xff
            t += 1
          }
          ThumbStats(r.doc_id, p.width, p.height, header ++ data, rs, gs, bs)
        }
      }
    }
  }

  /** Average-hash (aHash) perceptual fingerprint of a decoded P6 image:
    * integer grayscale per pixel, box-partition onto a grid×grid lattice
    * (cell = (y·grid/h, x·grid/w) — every cell nonempty for the ≥8×8
    * fixtures), per-cell floor-average, bit = cell-average >= mean of
    * the 64 averages. All-integer arithmetic end to end, so an external
    * oracle reproduces every bit from the synthesis rule; a header or
    * layout bug flips whole rows red.
    *
    * This is the image-modality member of the near-dup family (text:
    * dd3/dd4; embeddings: ss2/ss4): at 100 TB of images the decode+hash
    * is the embarrassingly-parallel map over opaque binary (the one
    * place mapPartitions is the right tool), and everything downstream
    * carries (doc_id, 64-bit string) only.
    */
  final case class ImageHash(doc_id: Long, ahash_bits: String)

  def aHashPpm(media: Dataset[MediaRow], grid: Int = 8): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpm(r.payload).map { p =>
          val sums = new Array[Long](grid * grid)
          val cnts = new Array[Long](grid * grid)
          var y = 0
          while (y < p.height) {
            val cy = y * grid / p.height
            var x = 0
            while (x < p.width) {
              val i = p.dataOffset + (y * p.width + x) * 3
              val gray = ((r.payload(i) & 0xff) + (r.payload(i + 1) & 0xff)
                + (r.payload(i + 2) & 0xff)) / 3
              val c = cy * grid + x * grid / p.width
              sums(c) += gray; cnts(c) += 1
              x += 1
            }
            y += 1
          }
          val avgs = Array.tabulate(grid * grid)(c => sums(c) / cnts(c))
          val mean = avgs.sum / (grid * grid)
          ImageHash(r.doc_id, avgs.map(a => if (a >= mean) '1' else '0').mkString)
        }
      }
    }
  }

  /** Image near-dup pairs from aHash fingerprints: the simhash
    * pigeonhole (dd4's construction, applied to the image modality).
    * A pair with hamming <= maxDist differs in at most maxDist bands,
    * so with bands > maxDist at least one band matches exactly — the
    * ids-only band equi-join is a LOSSLESS candidate generator, and the
    * in-row bit compare keeps verification off the shuffle. Exactness
    * is provable by the oracle running the n² form.
    */
  def imageNearDupPairs(hashes: Dataset[ImageHash], maxDist: Int = 3,
                        bands: Int = 4): DataFrame =
    bandedHammingPairs(hashes.toDF(), "ahash_bits", 64, maxDist, bands)

  /** The banded-hamming candidate join shared by every 64-bit
    * fingerprint modality (images: [[imageNearDupPairs]]; audio:
    * [[audioNearDupPairs]]): band equi-join for lossless candidates
    * (pigeonhole: `bands > maxDist` ⇒ a qualifying pair matches some
    * band exactly), in-row bit compare for verification.
    */
  private def bandedHammingPairs(hashes: DataFrame, bitsCol: String,
                                 nBits: Int, maxDist: Int,
                                 bands: Int): DataFrame = {
    require(bands > maxDist, "pigeonhole needs bands > maxDist")
    val bandLen = nBits / bands
    val banded = hashes.select(col("doc_id"), col(bitsCol),
      explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"struct(b AS band_idx, substring($bitsCol, b*$bandLen + 1, $bandLen) AS band))"))
        .as("bd"))
      .select(col("doc_id"), col(bitsCol), col("bd.band_idx"), col("bd.band"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col(s"a.$bitsCol").as("h1"), col(s"b.$bitsCol").as("h2"))
      .distinct()
      .withColumn("hamming", expr(
        s"cast(size(filter(sequence(1, $nBits), i -> substring(h1, i, 1) != substring(h2, i, 1))) as bigint)"))
      .filter(col("hamming") <= maxDist)
      .select("d1", "d2", "hamming")
  }

  /** Temporal energy-envelope fingerprint of decoded PCM — the audio
    * member of the 64-bit fingerprint family (images: [[aHashPpm]];
    * text: simhash). A simplified Haitsma-Kalker robust hash (ISMIR
    * 2002) on the time axis: the signal splits into `frames` equal
    * spans (integer boundaries f·n/frames), each span's energy is the
    * exact integer Σs², and bit f is the SIGN of the energy delta
    * between spans f+1 and f. Delta signs survive small sample
    * perturbations, so near-identical audio lands within a few bits
    * while unrelated clips sit near 32. All-integer until the final
    * bit string — an external oracle reproduces every bit from the
    * synthesis rule. Same embarrassingly-parallel decode map as
    * [[wavStats]].
    */
  final case class AudioFp(doc_id: Long, fp_bits: String)

  def audioFingerprint(media: Dataset[MediaRow], frames: Int = 65): Dataset[AudioFp] = {
    require(frames >= 2, "need at least two frames for one delta bit")
    implicit val enc = Encoders.product[AudioFp]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).map { w =>
          val n = w.nSamples
          val e = new Array[Long](frames)
          var f = 0
          while (f < frames) {
            var i = f * n / frames
            val hi = (f + 1) * n / frames
            var acc = 0L
            while (i < hi) {
              val s = readU16le(r.payload, w.dataOffset + i * 2).toShort.toInt
              acc += s.toLong * s
              i += 1
            }
            e(f) = acc
            f += 1
          }
          val sb = new StringBuilder(frames - 1)
          var k = 1
          while (k < frames) {
            sb.append(if (e(k) > e(k - 1)) '1' else '0'); k += 1
          }
          AudioFp(r.doc_id, sb.toString)
        }
      }
    }
  }

  /** Audio near-dup pairs from energy-envelope fingerprints — the
    * audio modality's member of the near-dup family (text: dd3/dd4;
    * images: mm6; embeddings: ss4), via the same lossless banded
    * pigeonhole join.
    */
  def audioNearDupPairs(fps: Dataset[AudioFp], maxDist: Int = 6,
                        bands: Int = 8): DataFrame =
    bandedHammingPairs(fps.toDF(), "fp_bits", 64, maxDist, bands)

  /** Keyframe fingerprint of decoded video — the video member of the
    * 64-bit fingerprint family: [[aHashPpm]]'s 8×8 average-hash
    * construction applied to FRAME 0's luma plane of the real Y4M
    * decode (keyframe perceptual hashing — the standard first pass of
    * video dedup, since near-dup videos share near-identical
    * keyframes). All-integer: per-cell luma sums, floor-divided
    * averages, a floor-divided global mean, one bit per cell.
    */
  final case class VideoHash(doc_id: Long, vhash_bits: String)

  def videoFingerprint(media: Dataset[MediaRow], grid: Int = 8): Dataset[VideoHash] = {
    implicit val enc = Encoders.product[VideoHash]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseY4m(r.payload).map { y =>
          val off = y.frameOffsets.head
          val sums = new Array[Long](grid * grid)
          val cnts = new Array[Long](grid * grid)
          var py = 0
          while (py < y.height) {
            val cy = py * grid / y.height
            var px = 0
            while (px < y.width) {
              val c = cy * grid + px * grid / y.width
              sums(c) += (r.payload(off + py * y.width + px) & 0xff)
              cnts(c) += 1
              px += 1
            }
            py += 1
          }
          val avgs = Array.tabulate(grid * grid)(c => sums(c) / cnts(c))
          val mean = avgs.sum / (grid * grid)
          VideoHash(r.doc_id, avgs.map(a => if (a >= mean) '1' else '0').mkString)
        }
      }
    }
  }

  /** Video near-dup pairs from keyframe fingerprints — completes the
    * near-dup family across every modality (text, image, audio,
    * embedding, video), via the same lossless banded pigeonhole join.
    */
  def videoNearDupPairs(fps: Dataset[VideoHash], maxDist: Int = 3,
                        bands: Int = 4): DataFrame =
    bandedHammingPairs(fps.toDF(), "vhash_bits", 64, maxDist, bands)

  // ==== Real audio codec: WAV (RIFF PCM s16le) ========================
  // Second genuinely-decoded format, pure JVM: canonical RIFF container
  // with a PCM fmt chunk and 16-bit little-endian mono samples. The
  // parser walks the chunk list for real (it does not assume the 44-byte
  // canonical layout), so WAVs with extra chunks still decode. With
  // images (P6) and audio (WAV) both real, the decode stub above now
  // covers video only.

  private def u16le(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def u32le(b: Array[Byte], off: Int, v: Int): Unit = {
    u16le(b, off, v & 0xffff); u16le(b, off + 2, (v >>> 16) & 0xffff)
  }
  private def readU16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def readU32le(b: Array[Byte], off: Int): Long =
    (readU16le(b, off) & 0xffffL) | ((readU16le(b, off + 2) & 0xffffL) << 16)
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Deterministic WAV synthesis: 8 kHz mono s16le; sample count
    * derives from doc_id, sample values from the UTF-8 text bytes
    * (`s_i = (byte_{i mod L} − 128) · 256`, exactly representable and
    * reproducible by an external oracle with no audio library).
    */
  def makeWav(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    val nSamples = (256 + (docId % 512)).toInt
    val dataSize = nSamples * 2
    val out = new Array[Byte](44 + dataSize)
    "RIFF".getBytes("US-ASCII").copyToArray(out, 0)
    u32le(out, 4, 36 + dataSize)
    "WAVE".getBytes("US-ASCII").copyToArray(out, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(out, 12)
    u32le(out, 16, 16)     // fmt chunk size
    u16le(out, 20, 1)      // PCM
    u16le(out, 22, 1)      // mono
    u32le(out, 24, 8000)   // sample rate
    u32le(out, 28, 16000)  // byte rate
    u16le(out, 32, 2)      // block align
    u16le(out, 34, 16)     // bits per sample
    "data".getBytes("US-ASCII").copyToArray(out, 36)
    u32le(out, 40, dataSize)
    var i = 0
    while (i < nSamples) {
      val b = if (textBytes.nonEmpty) textBytes(i % textBytes.length) & 0xff else 128
      u16le(out, 44 + i * 2, ((b - 128) * 256) & 0xffff)
      i += 1
    }
    out
  }

  /** Decoded WAV header: PCM format fields + location of the sample
    * data. Real chunk-walking parser — unknown chunks are skipped by
    * their declared size (word-aligned, per RIFF).
    */
  final case class Wav(sampleRate: Int, nChannels: Int, bitsPerSample: Int,
                       nSamples: Int, dataOffset: Int)

  def parseWav(payload: Array[Byte]): Option[Wav] = {
    if (payload.length < 44 || fourcc(payload, 0) != "RIFF" ||
        fourcc(payload, 8) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None
    while (pos + 8 <= payload.length && (fmt.isEmpty || data.isEmpty)) {
      val id = fourcc(payload, pos)
      val size = readU32le(payload, pos + 4).toInt
      if (size < 0 || pos + 8 + size > payload.length) return None
      id match {
        case "fmt " =>
          if (size < 16 || readU16le(payload, pos + 8) != 1) return None // PCM only
          fmt = Some((readU16le(payload, pos + 10),              // channels
            readU32le(payload, pos + 12).toInt,                  // rate
            readU16le(payload, pos + 22)))                       // bits
        case "data" => data = Some((pos + 8, size))
        case _ => ()
      }
      pos += 8 + size + (size & 1) // RIFF chunks are word-aligned
    }
    for {
      (ch, rate, bits) <- fmt
      (off, size) <- data
      if ch > 0 && rate > 0 && bits == 16
    } yield Wav(rate, ch, bits, size / (2 * ch), off)
  }

  /** Integer audio features of a decoded WAV — duration, peak, total
    * absolute amplitude, zero crossings. All-integer arithmetic so a
    * SQL oracle can reproduce every value from the synthesis rule.
    */
  final case class AudioStats(doc_id: Long, sample_rate: Int, n_samples: Int,
                              duration_us: Long, peak: Int, abs_sum: Long,
                              zero_crossings: Int)

  def wavStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    implicit val enc = Encoders.product[AudioStats]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).map { w =>
          var (peak, absSum, zc) = (0, 0L, 0)
          var prevNeg = false
          var i = 0
          while (i < w.nSamples) {
            val s = readU16le(r.payload, w.dataOffset + i * 2).toShort.toInt
            val a = math.abs(s)
            if (a > peak) peak = a
            absSum += a
            val neg = s < 0
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          AudioStats(r.doc_id, w.sampleRate, w.nSamples,
            w.nSamples.toLong * 1000000L / w.sampleRate, peak, absSum, zc)
        }
      }
    }
  }

  // ==== Real video codec: Y4M (YUV4MPEG2, C420) =======================
  // Third genuinely-decoded format, pure JVM: YUV4MPEG2 is a plain-text
  // stream header ("YUV4MPEG2 W<w> H<h> F<n>:<d> ... C420jpeg\n")
  // followed by raw frames, each introduced by its own "FRAME[params]\n"
  // marker and carrying w*h luma + 2*(w/2)*(h/2) chroma bytes (C420).
  // The parser walks the tagged header and every frame marker for real
  // (frame params allowed, sizes validated), so frame offsets/counts
  // are DECODED, not assumed. With P6 images, WAV audio and Y4M video
  // all real, no modality is stubbed — decodeStub below survives only
  // as the disclosed fallback for payloads in none of the three
  // formats.

  /** Audio-quality gates over decoded PCM — the audio-modality member
    * of the curation battery (text: tx2/tx13; images: mm4): silence
    * ratio (|s| <= silence), energy (Σs², the all-integer RMS proxy),
    * clipping (|s| >= clip counts digital saturation), and the longest
    * run of a repeated sample value (stuck-sample/dropout detector).
    * All-integer single-pass arithmetic over the sample stream, so an
    * external oracle reproduces every value from the synthesis rule;
    * at 100 TB this is the same embarrassingly-parallel decode map as
    * [[wavStats]] — one pass, no state beyond the row.
    */
  final case class AudioQuality(doc_id: Long, n_samples: Int, n_silent: Long,
                                sq_sum: Long, n_clipped: Long, max_run: Int)

  def audioQuality(media: Dataset[MediaRow], silence: Int = 2048,
                   clip: Int = 32256): Dataset[AudioQuality] = {
    implicit val enc = Encoders.product[AudioQuality]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).map { w =>
          var (nSilent, sqSum, nClipped) = (0L, 0L, 0L)
          var (maxRun, curRun, prev) = (0, 0, Int.MinValue)
          var i = 0
          while (i < w.nSamples) {
            val s = readU16le(r.payload, w.dataOffset + i * 2).toShort.toInt
            val a = math.abs(s)
            if (a <= silence) nSilent += 1
            if (a >= clip) nClipped += 1
            sqSum += s.toLong * s
            if (s == prev) curRun += 1 else { prev = s; curRun = 1 }
            if (curRun > maxRun) maxRun = curRun
            i += 1
          }
          AudioQuality(r.doc_id, w.nSamples, nSilent, sqSum, nClipped, maxRun)
        }
      }
    }
  }

  /** Per-frame energy of decoded PCM: the clip is cut into fixed
    * `frame`-sample windows (trailing partial kept with its true
    * width) and each frame carries its exact integer |s| sum — the
    * feature stream under every energy-based voice-activity detector.
    * The codec boundary emits FRAMES, not samples, so the mapPartitions
    * stays O(n_samples / frame) rows; everything downstream
    * ([[vadSegments]]) is declarative SQL.
    */
  final case class FrameEnergy(doc_id: Long, f: Long, n_in_frame: Long,
                               abs_sum: Long, sample_rate: Int)

  def audioFrameEnergy(media: Dataset[MediaRow],
                       frame: Int = 64): Dataset[FrameEnergy] = {
    require(frame > 0, "frame must be positive")
    implicit val enc = Encoders.product[FrameEnergy]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).toSeq.flatMap { w =>
          (0 until (w.nSamples + frame - 1) / frame).map { fi =>
            val lo = fi * frame
            val hi = math.min(lo + frame, w.nSamples)
            var abs = 0L
            var i = lo
            while (i < hi) {
              abs += math.abs(readU16le(r.payload, w.dataOffset + i * 2)
                .toShort.toInt)
              i += 1
            }
            FrameEnergy(r.doc_id, fi.toLong, (hi - lo).toLong, abs,
              w.sampleRate)
          }
        }
      }
    }
  }

  /** Energy-gate voice-activity segmentation (the classic frame-energy
    * VAD — the simplified shape of ITU-T G.729 Annex B / WebRTC VAD's
    * first stage, and the standard first cut when curating speech
    * corpora: keep utterances, drop silence): a frame is ACTIVE when
    * its mean |sample| clears `thrMeanAbs` (tested as the integer
    * cross-product `abs_sum ≥ thr · n_in_frame` — no division), and
    * maximal runs of active frames become segments via the
    * gaps-and-islands window (`f − row_number` over active frames).
    * Per segment: millisecond bounds (exact integer µs-per-sample
    * arithmetic), frame count, and exact mean |s|.
    *
    * Scale: one codec-boundary frame pass, one per-clip window, one
    * (clip, island) rollup — corpus-linear, segments-bounded output.
    */
  def vadSegments(media: Dataset[MediaRow], frame: Int = 64,
                  thrMeanAbs: Long = 8000L): DataFrame = {
    val fr = audioFrameEnergy(media, frame).toDF()
    val active = fr.filter(col("abs_sum") >= lit(thrMeanAbs) * col("n_in_frame"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy("f")).cast("long"))
      .withColumn("grp", col("f") - col("rn"))
    val segs = active.groupBy("doc_id", "grp")
      .agg(min("f").as("f0"), count(lit(1)).cast("long").as("n_frames"),
        sum("abs_sum").cast("long").as("tot"),
        sum("n_in_frame").cast("long").as("ns"),
        max(col("f") * lit(frame.toLong) + col("n_in_frame")).as("end_sample"),
        first("sample_rate").as("rate"))
    segs
      .withColumn("seg", row_number().over(
        Window.partitionBy("doc_id").orderBy("f0")).cast("long"))
      .select(col("doc_id"), col("seg"),
        expr(s"(f0 * ${frame}L * 1000L) div rate").as("start_ms"),
        expr("(end_sample * 1000L) div rate").as("end_ms"),
        col("n_frames"),
        expr("tot div ns").as("mean_abs"))
  }

  /** Per-clip spectral power at fixed analysis frequencies — the DFT
    * features (spectral energy bands) speech-curation pipelines gate
    * on (voice sits 300–3400 Hz; a clip whose energy is all in one
    * band is a tone/artifact, all-band flat is noise). Goertzel-class
    * single-bin analysis, computed as two in-order coefficient folds
    * per bin: `P(f) = (Σ x_n·cos(ω n))² + (Σ x_n·sin(ω n))²`.
    *
    * Determinism across engines without trusting libm: the analysis
    * frequencies are multiples of 500 Hz at the 8 kHz rate, so the
    * coefficient sequences are EXACTLY 16-PERIODIC — both engines use
    * the SAME 16 JVM-computed table literals (serialized into the
    * oracle SQL), and the folds are plain in-order multiply-adds.
    * Power quantizes once through `log10(P + 1)` to nano.
    *
    * Scale: the wavStats shape — one embarrassingly-parallel decode
    * map emitting bins-bounded rows per clip; no shuffle.
    */
  final case class SpectralPower(doc_id: Long, bin_hz: Int, n_samples: Int,
                                 log_power_nano: Long)

  val SpectralBins: Seq[Int] = Seq(500, 1000, 2000, 3500)

  def spectralCosTable(f: Int): Array[Double] =
    Array.tabulate(16)(n => math.cos(2.0 * math.Pi * f * n / 8000.0))
  def spectralSinTable(f: Int): Array[Double] =
    Array.tabulate(16)(n => math.sin(2.0 * math.Pi * f * n / 8000.0))

  def spectralFeatures(media: Dataset[MediaRow],
                       bins: Seq[Int] = SpectralBins): Dataset[SpectralPower] = {
    require(bins.forall(f => (f * 16) % 8000 == 0),
      "bins must be multiples of 500 Hz (16-periodic at 8 kHz)")
    implicit val enc = Encoders.product[SpectralPower]
    val tabs = bins.map(f => (f, spectralCosTable(f), spectralSinTable(f)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).toSeq.flatMap { w =>
          tabs.map { case (f, ct, st) =>
            var sc = 0.0
            var ss = 0.0
            var i = 0
            while (i < w.nSamples) {
              val x = readU16le(r.payload, w.dataOffset + i * 2).toShort.toDouble
              sc += x * ct(i & 15)
              ss += x * st(i & 15)
              i += 1
            }
            val p = sc * sc + ss * ss
            SpectralPower(r.doc_id, f, w.nSamples,
              math.floor(math.log10(p + 1.0) * 1e9 + 0.5).toLong)
          }
        }
      }
    }
  }

  /** Integer decimation resample of decoded PCM: each output sample is
    * the CLIPPED SUM of `factor` consecutive inputs (a boxcar
    * anti-alias accumulator held in pure integer arithmetic — no
    * division, so there is no rounding-mode divergence to reconcile
    * across engines; gain normalization is the player's job). A
    * trailing partial window is dropped (`n_out = n_in / factor`,
    * floor). Output stats carry peak / abs-sum / zero-crossings of the
    * resampled signal plus the declared output rate.
    *
    * Scale: same embarrassingly-parallel decode map as [[wavStats]] —
    * one pass over opaque binary, no state beyond the row, mapPartitions
    * justified because the payload is not columnar data.
    */
  final case class ResampleStats(doc_id: Long, rate_in: Int, rate_out: Int,
                                 n_in: Int, n_out: Int, peak: Int,
                                 abs_sum: Long, zero_crossings: Int)

  def resampleStats(media: Dataset[MediaRow], factor: Int = 2): Dataset[ResampleStats] = {
    implicit val enc = Encoders.product[ResampleStats]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWav(r.payload).map { w =>
          val m = w.nSamples / factor
          var (peak, absSum, zc) = (0, 0L, 0)
          var prevNeg = false
          var i = 0
          while (i < m) {
            var acc = 0
            var k = 0
            while (k < factor) {
              acc += readU16le(r.payload, w.dataOffset + (i * factor + k) * 2)
                .toShort.toInt
              k += 1
            }
            val y = math.max(-32768, math.min(32767, acc))
            val a = math.abs(y)
            if (a > peak) peak = a
            absSum += a
            val neg = y < 0
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          ResampleStats(r.doc_id, w.sampleRate, w.sampleRate / factor,
            w.nSamples, m, peak, absSum, zc)
        }
      }
    }
  }

  /** Deterministic Y4M synthesis: even dimensions and frame count from
    * doc_id, frame bytes cycling the UTF-8 text (one CONTINUOUS cycle
    * across frames: byte m of the concatenated frame data is
    * `text[m mod L]`), so an external oracle reproduces every luma sum
    * and every frame offset with integer arithmetic only.
    */
  def makeY4m(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
    val w = (16 + (docId % 16) * 2).toInt
    val h = (16 + ((docId / 7) % 16) * 2).toInt
    val nFrames = (2 + docId % 5).toInt
    val frameSize = w * h * 3 / 2
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + nFrames * (marker.length + frameSize))
    header.copyToArray(out, 0)
    var pos = header.length
    var m = 0
    var k = 0
    while (k < nFrames) {
      marker.copyToArray(out, pos); pos += marker.length
      var j = 0
      while (j < frameSize) {
        out(pos) = if (textBytes.nonEmpty) textBytes(m % textBytes.length) else 0
        pos += 1; m += 1; j += 1
      }
      k += 1
    }
    out
  }

  /** Decoded Y4M: stream parameters + the byte offset of every frame's
    * data. Real parser: tagged-header walk (W/H/F required, C must be a
    * 4:2:0 variant for the frame-size rule), then a frame-marker walk
    * that tolerates per-frame params and validates every size.
    */
  final case class Y4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                       frameOffsets: IndexedSeq[Int]) {
    def nFrames: Int = frameOffsets.length
    def frameSize: Int = width * height * 3 / 2
  }

  def parseY4m(payload: Array[Byte]): Option[Y4m] = {
    val magic = "YUV4MPEG2".getBytes("US-ASCII")
    if (payload.length < magic.length + 1 ||
        !magic.indices.forall(i => payload(i) == magic(i))) return None
    var eol = magic.length
    while (eol < payload.length && payload(eol) != '\n') eol += 1
    if (eol >= payload.length) return None
    val tags = new String(payload, magic.length, eol - magic.length, "US-ASCII")
      .trim.split("\\s+").filter(_.nonEmpty)
    var (w, h, fn, fd) = (-1, -1, 25, 1)
    var c420 = true // C absent defaults to 4:2:0 per spec
    tags.foreach { t =>
      (t.head, t.tail) match {
        case ('W', v) => w = v.toIntOption.getOrElse(-1)
        case ('H', v) => h = v.toIntOption.getOrElse(-1)
        case ('F', v) => v.split(":") match {
          case Array(a, b) =>
            fn = a.toIntOption.getOrElse(-1); fd = b.toIntOption.getOrElse(-1)
          case _ => fn = -1
        }
        case ('C', v) => c420 = v.startsWith("420")
        case _ => () // Ip/A/X params don't affect the frame-size rule
      }
    }
    if (w <= 0 || h <= 0 || w % 2 != 0 || h % 2 != 0 ||
        fn <= 0 || fd <= 0 || !c420) return None
    val frameSize = w * h * 3 / 2
    val frame = "FRAME".getBytes("US-ASCII")
    val offsets = IndexedSeq.newBuilder[Int]
    var pos = eol + 1
    while (pos < payload.length) {
      if (pos + frame.length > payload.length ||
          !frame.indices.forall(i => payload(pos + i) == frame(i))) return None
      var fe = pos + frame.length // optional frame params until newline
      while (fe < payload.length && payload(fe) != '\n') fe += 1
      if (fe >= payload.length || fe + 1 + frameSize > payload.length) return None
      offsets += fe + 1
      pos = fe + 1 + frameSize
    }
    val off = offsets.result()
    if (off.isEmpty) None else Some(Y4m(w, h, fn, fd, off))
  }

  /** REAL frame sampling over decoded Y4M video: every `stride`-th
    * frame row carries its PARSED data offset, its size, and the sum of
    * its luma plane — integer features an external oracle recomputes
    * from the synthesis rule, so a wrong header walk, wrong frame-size
    * rule, or off-by-one marker scan shifts every row.
    */
  final case class FrameSample(doc_id: Long, width: Int, height: Int,
                               n_frames: Int, frame_idx: Int,
                               data_offset: Long, frame_n_bytes: Int,
                               y_sum: Long)

  def sampleFramesY4m(media: Dataset[MediaRow], stride: Int = 2): Dataset[FrameSample] = {
    implicit val enc = Encoders.product[FrameSample]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseY4m(r.payload).toSeq.flatMap { v =>
          (0 until v.nFrames).filter(_ % stride == 0).map { k =>
            val off = v.frameOffsets(k)
            var ySum = 0L
            var j = 0
            val n = v.width * v.height
            while (j < n) { ySum += r.payload(off + j) & 0xff; j += 1 }
            FrameSample(r.doc_id, v.width, v.height, v.nFrames, k,
              off.toLong, v.frameSize, ySum)
          }
        }
      }
    }
  }

  /** Scene-cut detection over decoded Y4M video — the segmentation op
    * a video training pipeline runs before clip sampling: a cut is a
    * frame whose mean luma jumps by ≥ `meanDelta` gray levels vs the
    * previous frame (compared in integers as
    * |Δ y_sum| ≥ w·h·meanDelta, so the decision is exact and
    * engine-portable). Composes the real decode ([[sampleFramesY4m]]
    * at stride 1) with a per-video lag window — frames of one video
    * hash-partition together and only the (doc, idx, sum) rows ever
    * shuffle, never pixel data.
    */
  def sceneCutsY4m(media: Dataset[MediaRow], meanDelta: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    sampleFramesY4m(media, stride = 1).toDF()
      .withColumn("prev_y_sum", lag(col("y_sum"), 1).over(w))
      .filter(col("prev_y_sum").isNotNull)
      .withColumn("delta", abs(col("y_sum") - col("prev_y_sum")))
      .filter(col("delta").cast("double") >=
        col("width").cast("long") * col("height") * lit(meanDelta))
      .select(col("doc_id"), col("frame_idx"), col("prev_y_sum"),
        col("y_sum"), col("delta"))
  }

  /** Media table of REAL P6 images synthesized from the documents
    * fixture (same hash-spread layout notes as [[mediaFromDocuments]]).
    */
  final case class DocText(doc_id: Long, text: String)

  def ppmFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    implicit val encIn = Encoders.product[DocText]
    implicit val encOut = Encoders.product[MediaRow]
    docs.select(col("doc_id"), col("text")).as[DocText]
      .map(r => MediaRow(r.doc_id, "image", makePpm(r.doc_id, r.text.getBytes("UTF-8"))))
  }

}
