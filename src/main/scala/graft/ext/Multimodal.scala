package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for LLM training-data pipelines (north-star
  * extension).
  *
  * Model: an asset is an opaque `binary` payload plus a typed metadata
  * struct (`kind`, `mime`, `n_bytes`, `width`, `height`, `sample_rate`).
  * Everything Spark-side — schema, partition sizing, batch iteration,
  * feature-column shapes — is real and tested. Header METADATA decode is
  * real (`decodeMeta`: PNG IHDR / JPEG SOFn / GIF logical-screen bytes,
  * WAV fmt sample rate), and PIXEL decode is real too
  * ([[decodeImageFeatures]]): full `javax.imageio` decode of any
  * JDK-supported format (PNG/JPEG/GIF/BMP/WBMP) to per-image channel
  * means + luminance histogram. [[fakeDecodeFeatures]] remains only as
  * the deterministic pseudo-featurizer for NON-media payloads, where a
  * codec has nothing to decode but the plumbing still needs stable
  * oracle-checkable values.
  */
object Multimodal {

  // ImageIO defaults to DISK-backed image input streams: every decode
  // writes a temp cache file, which serializes 32 concurrent decoder
  // tasks on filesystem contention (measured 2x wall inflation on the
  // dhash fixture once the r13 table fan-out parallelized the decode
  // stage). All payloads here are small in-memory byte arrays — cache
  // memory-backed instead. Object-init runs once per executor JVM.
  javax.imageio.ImageIO.setUseCache(false)

  val metaSchema: StructType = StructType(Seq(
    StructField("kind", StringType),          // image | audio | video | text
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType)))

  /** Attach a binary payload + metadata struct derived from a text column —
    * a deterministic fixture generator so the plumbing is testable without
    * real media. Payload = utf-8 bytes; metadata dimensions are md5-derived
    * pseudo-values.
    */
  def attachBinary(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val payload = encode(t, "UTF-8")
    val h = md5(t)
    df.withColumn("payload", payload)
      .withColumn("meta", struct(
        lit("image").as("kind"),
        lit("application/octet-stream").as("mime"),
        octet_length(payload).cast(LongType).as("n_bytes"),
        (conv(substring(h, 1, 2), 16, 10).cast(IntegerType) + 32).as("width"),
        (conv(substring(h, 3, 2), 16, 10).cast(IntegerType) + 32).as("height"),
        lit(16000).as("sample_rate")))
  }

  /** Modality detection by magic bytes — the dispatch step in front of
    * per-modality decode pipelines. A codegen'd hex-prefix CASE over the
    * first payload bytes (no UDF, no decode): PNG/JPEG/GIF images,
    * RIFF(WAV) audio, ISO-BMFF(`ftyp` at offset 4) video, PDF documents;
    * everything else falls through to `unknown`. Scan-local.
    */
  def detectKind(payload: Column): Column = {
    def hexAt(off: Int, len: Int) = hex(substring(payload, off, len))
    when(hexAt(1, 4) === "89504E47", "image/png")
      .when(hexAt(1, 3) === "FFD8FF", "image/jpeg")
      .when(hexAt(1, 4) === "47494638", "image/gif")
      .when(hexAt(1, 4) === "52494646" && hexAt(9, 4) === "57415645", "audio/wav")
      .when(hexAt(5, 4) === "66747970", "video/mp4")
      .when(hexAt(1, 4) === "25504446", "application/pdf")
      .otherwise("unknown")
  }

  // ===== real header decode ==============================================
  // Dimensions / bit depth / sample rate parsed straight from the payload
  // bytes — no codec library. PNG, GIF and WAV have fixed-offset headers,
  // so they decode as pure codegen'd expressions (hex-slice arithmetic,
  // scan-local, stays inside WholeStageCodegen). JPEG requires walking a
  // variable-length marker chain to find SOFn, which is genuine per-row
  // imperative logic — the one decode done as a UDF.

  private def beInt(payload: Column, off1: Int, len: Int): Column =
    conv(hex(substring(payload, off1, len)), 16, 10).cast(IntegerType)

  /** Little-endian unsigned int from `len` bytes at 1-based offset. */
  private def leInt(payload: Column, off1: Int, len: Int): Column =
    (0 until len).map { i =>
      beInt(payload, off1 + i, 1) * lit(1 << (8 * i))
    }.reduce(_ + _)

  /** PNG IHDR: width/height as BE32 at bytes 17/21, bit depth at 25 —
    * valid only when the IHDR chunk tag sits at byte 13 as the spec
    * requires; returns nulls otherwise (truncated or non-PNG payload).
    */
  private def pngField(payload: Column, f: Column): Column =
    when(hex(substring(payload, 13, 4)) === "49484452", f)

  /** JPEG SOFn walk: skip fill bytes and standalone markers, hop over
    * length-prefixed segments until a start-of-frame (C0-CF minus the
    * non-frame C4/C8/CC) yields precision, height, width. Returns null on
    * truncated / scan-before-frame payloads.
    */
  private def jpegSofBytes(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None // lost marker sync
      var j = i + 1
      while (j < b.length - 1 && (b(j) & 0xFF) == 0xFF) j += 1 // fill bytes
      val marker = b(j) & 0xFF
      if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        i = j + 1 // standalone marker, no length word
      } else if (marker == 0xD9 || marker == 0xDA) {
        return None // EOI / entropy-coded scan reached without a SOF
      } else {
        if (j + 2 >= b.length) return None
        val len = ((b(j + 1) & 0xFF) << 8) | (b(j + 2) & 0xFF)
        if (marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          if (j + 7 >= b.length) return None
          val precision = b(j + 3) & 0xFF
          val h = ((b(j + 4) & 0xFF) << 8) | (b(j + 5) & 0xFF)
          val w = ((b(j + 6) & 0xFF) << 8) | (b(j + 7) & 0xFF)
          return Some((w, h, precision))
        }
        i = j + 1 + len
      }
    }
    None
  }

  // not private: the UDF's result converter is generated code, and Janino
  // cannot call a private case class's accessors (it would fall back to
  // interpreted conversion on every query)
  case class JpegSof(width: Int, height: Int, bit_depth: Int)
  private val jpegSofUdf =
    udf((b: Array[Byte]) => jpegSofBytes(b).map {
      case (w, h, p) => JpegSof(w, h, p)
    })

  /** Decode real metadata from the payload header: mime (magic bytes),
    * width/height/bit_depth for PNG/JPEG/GIF, sample_rate for WAV. Null
    * fields where the modality doesn't define them or the header is
    * malformed. Scan-local; only the JPEG branch leaves codegen.
    */
  def decodeMeta(payload: Column): Column = {
    val kind = detectKind(payload)
    // the UDF sees null for every non-JPEG payload: Spark's common-
    // subexpression elimination evaluates a repeated UDF once per row
    // regardless of which when-branch wins, so gating the ARGUMENT (not
    // just the branch) is what actually keeps the marker walk off the
    // PNG/GIF/WAV/unknown rows
    val jpeg = jpegSofUdf(when(kind === "image/jpeg", payload))
    // GIF logical-screen: LE16 at 7/9; color resolution bits 4-6 of the
    // packed byte at 11
    val gifDepth = (shiftright(beInt(payload, 11, 1), 4).bitwiseAND(lit(7)) +
      1).cast(IntegerType)
    val width = when(kind === "image/png", pngField(payload, beInt(payload, 17, 4)))
      .when(kind === "image/gif", leInt(payload, 7, 2).cast(IntegerType))
      .when(kind === "image/jpeg", jpeg.getField("width"))
    val height = when(kind === "image/png", pngField(payload, beInt(payload, 21, 4)))
      .when(kind === "image/gif", leInt(payload, 9, 2).cast(IntegerType))
      .when(kind === "image/jpeg", jpeg.getField("height"))
    val depth = when(kind === "image/png", pngField(payload, beInt(payload, 25, 1)))
      .when(kind === "image/gif", gifDepth)
      .when(kind === "image/jpeg", jpeg.getField("bit_depth"))
    // WAV fmt chunk at its canonical offset: sample rate = LE32 at 25
    val rate = when(kind === "audio/wav" &&
      hex(substring(payload, 13, 4)) === "666D7420",
      leInt(payload, 25, 4).cast(IntegerType))
    struct(kind.as("mime"), width.as("width"), height.as("height"),
      depth.as("bit_depth"), rate.as("sample_rate"))
  }

  /** Synthesize a spec-shaped PNG signature + IHDR prefix for a given
    * geometry — the fixture generator that lets `decodeMeta`'s PNG parse
    * round-trip under the DuckDB oracle (the oracle recomputes the
    * geometry arithmetically; Spark recovers it from the bytes).
    */
  def pngHeader(width: Column, height: Column, bitDepth: Column): Column =
    concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
      unhex(lpad(hex(width.cast(LongType)), 8, "0")),
      unhex(lpad(hex(height.cast(LongType)), 8, "0")),
      unhex(lpad(hex(bitDepth.cast(LongType)), 2, "0")),
      unhex(lit("060000000000000000"))) // color/compress/filter/interlace + CRC pad

  // ===== real pixel decode ===============================================

  /** Per-image pixel features from a REAL codec pass: `javax.imageio`
    * decodes the payload (PNG/JPEG/GIF/BMP/WBMP — whatever the JDK's
    * registered readers handle), then one imperative sweep accumulates
    * INTEGER channel sums (exact — no float accumulation-order drift) and
    * a 4-bin luminance histogram. Output, 8-dim `array<double>`:
    * `[mean_r, mean_g, mean_b, lum(mean_rgb), h0, h1, h2, h3]` where
    * `lum(c) = 0.299·r + 0.587·g + 0.114·b` (Rec.601) — luminance is
    * linear in the channels, so luminance-of-the-mean IS the mean
    * luminance, computed as the one double expression an external oracle
    * can replay bit-for-bit. Histogram bins are `min(⌊lum/64⌋, 3)` of the
    * per-pixel Rec.601 value, normalized to fractions. Null for payloads
    * no reader accepts (text, truncated, unknown formats).
    *
    * Genuine per-row imperative work — the justified-UDF case (SURVEY §7):
    * there is no expression form of a codec. Scan-local, no shuffle; at
    * 100 TB the cost is the codec itself, which is irreducible.
    */
  private val imageFeaturesUdf = udf((bytes: Array[Byte]) => {
    if (bytes == null) None
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val n = w.toLong * h
        var sr = 0L; var sg = 0L; var sb = 0L
        val hist = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val r = (p >> 16) & 0xFF
            val g = (p >> 8) & 0xFF
            val b = p & 0xFF
            sr += r; sg += g; sb += b
            val lum = 0.299 * r + 0.587 * g + 0.114 * b
            hist(math.min((lum / 64.0).toInt, 3)) += 1L
            x += 1
          }
          y += 1
        }
        val mr = sr.toDouble / n
        val mg = sg.toDouble / n
        val mb = sb.toDouble / n
        Some(Array(mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb,
          hist(0).toDouble / n, hist(1).toDouble / n,
          hist(2).toDouble / n, hist(3).toDouble / n))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  })

  def decodeImageFeatures(payload: Column): Column = imageFeaturesUdf(payload)

  /** Expression-built 24-bit uncompressed BMP of a solid color — the
    * fixture that puts [[decodeImageFeatures]] under the external oracle:
    * BMP pixel bytes are raw BGR (no entropy coding), so the decoded
    * channel means are exactly the constructed (r, g, b) and an oracle
    * that never touches a codec can recompute every feature
    * arithmetically, while the Spark side still runs the REAL ImageIO
    * reader over real bytes. Header is a compile-time hex literal; pixel
    * data is one codegen'd `repeat`+`unhex`. `3·width` must be 4-byte
    * aligned so rows need no pad bytes.
    */
  def bmpImage(r: Column, g: Column, b: Column,
      width: Int = 4, height: Int = 4): Column = {
    require((3 * width) % 4 == 0, s"3*width must be 4-byte aligned, got width=$width")
    def le32(v: Int): String =
      f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X${(v >> 16) & 0xFF}%02X${(v >> 24) & 0xFF}%02X"
    def le16(v: Int): String = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    val imgSize = 3 * width * height
    val header = "424D" + le32(54 + imgSize) + "00000000" + le32(54) + // BITMAPFILEHEADER
      le32(40) + le32(width) + le32(height) + le16(1) + le16(24) +     // BITMAPINFOHEADER
      le32(0) + le32(imgSize) + le32(2835) + le32(2835) + le32(0) + le32(0)
    def hx(c: Column) = lpad(hex(c.cast(IntegerType)), 2, "0")
    concat(unhex(lit(header)),
      unhex(repeat(concat(hx(b), hx(g), hx(r)), width * height)))
  }

  // ===== perceptual image hashing (dHash) ================================

  /** 64-bit difference hash (dHash) from a REAL codec pass — the classic
    * perceptual near-dup fingerprint for images (public references:
    * Krawetz's "Kind of Like That" dHash write-up; widely reimplemented).
    * ImageIO decodes the payload, the pixel grid is reduced to 9x8
    * block-mean grayscales (exact INTEGER channel sums per block, then one
    * Rec.601 double per block — no float accumulation-order drift), and
    * bit r*8+c is set iff the block to the right is strictly brighter:
    * grid(r)(c+1) > grid(r)(c). Hamming distance between hashes tracks
    * perceptual difference and survives rescaling/recompression. Returns
    * null for undecodable payloads or images smaller than the 9x8 grid.
    * Justified UDF: no expression form of a codec (same tier as
    * [[decodeImageFeatures]]). Scan-local, no shuffle.
    */
  /** Shared decode step of the perceptual hashes: REAL ImageIO decode →
    * 8×9 block-mean Rec.601 grayscale grid (exact integer channel sums
    * per block, one double per block — no float accumulation-order
    * drift). None for undecodable payloads or images under 9×8.
    */
  private def grayGrid(bytes: Array[Byte]): Option[Array[Array[Double]]] = {
    if (bytes == null) None
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth < 9 || img.getHeight < 8) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val grid = Array.ofDim[Double](8, 9)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 9) {
            val x0 = c * w / 9; val x1 = (c + 1) * w / 9
            val y0 = r * h / 8; val y1 = (r + 1) * h / 8
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            val n = (x1 - x0).toLong * (y1 - y0)
            grid(r)(c) = 0.299 * (sr.toDouble / n) + 0.587 * (sg.toDouble / n) +
              0.114 * (sb.toDouble / n)
            c += 1
          }
          r += 1
        }
        Some(grid)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private val dhash64Udf = udf((bytes: Array[Byte]) => {
    grayGrid(bytes).map { grid =>
      var hash = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (grid(r)(c + 1) > grid(r)(c)) hash |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      hash
    }
  })

  def dhash64(payload: Column): Column = dhash64Udf(payload)

  /** 8-point DCT-II twiddles `cos(π(2r+1)u/16)` — computed once and
    * PUBLIC because the oracle generator re-emits exactly these doubles
    * as SQL literals (Double.toString round-trips), so engine and oracle
    * share the transform bit-for-bit.
    */
  val DctT: Array[Array[Double]] =
    Array.tabulate(8, 8)((u, r) => math.cos(math.Pi * (2 * r + 1) * u / 16.0))

  /** 64-bit frequency-domain perceptual hash (pHash family — public
    * method: DCT the downsampled grayscale, compare coefficients to
    * their mean; Krawetz's "Looks Like It"). Uses the left 8×8 of the
    * same REAL-codec block-mean grid as [[dhash64]] (no 9→8 resample
    * ambiguity), an unnormalized 2-D DCT-II (the uniform α factors
    * cancel in mean comparisons), and bit k=u·8+v set iff C(u,v) exceeds
    * the mean of the 63 AC coefficients. All folds run in fixed index
    * order so the oracle can replay the transform exactly. dHash tracks
    * gradients; pHash tracks global structure — together the standard
    * perceptual near-dup pair. Same justified-UDF tier and scan-local
    * shape as [[dhash64]].
    */
  private val phash64Udf = udf((bytes: Array[Byte]) => {
    grayGrid(bytes).map { grid =>
      val coef = new Array[Double](64)
      var k = 0
      while (k < 64) {
        val u = k / 8; val v = k % 8
        var acc = 0.0
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            acc = acc + grid(r)(c) * DctT(u)(r) * DctT(v)(c)
            c += 1
          }
          r += 1
        }
        coef(k) = acc
        k += 1
      }
      var s = 0.0
      k = 0
      while (k < 64) { s = s + coef(k); k += 1 }
      val m = (s - coef(0)) / 63.0
      var hash = 0L
      k = 0
      while (k < 64) { if (coef(k) > m) hash |= 1L << k; k += 1 }
      hash
    }
  })

  def phash64(payload: Column): Column = phash64Udf(payload)

  /** Expression-built 9x8 24-bit BMP of vertical gray stripes — the dHash
    * fixture: column c carries `vals[c]` (0-255) in all three channels, so
    * the 9x8 block grid IS the stripe list and an oracle recomputes the
    * whole hash arithmetically from the same values, while the Spark side
    * decodes REAL BMP bytes (including the 1-byte row padding 27 -> 28).
    * `vals` must be an array<int> of exactly 9 values in [0, 255].
    */
  def bmpStripes(vals: Column): Column = {
    val width = 9; val height = 8
    val rowSize = 28 // 27 pixel bytes + 1 pad byte to the 4-byte boundary
    def le32(v: Int): String =
      f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X${(v >> 16) & 0xFF}%02X${(v >> 24) & 0xFF}%02X"
    def le16(v: Int): String = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    val imgSize = rowSize * height
    val header = "424D" + le32(54 + imgSize) + "00000000" + le32(54) +
      le32(40) + le32(width) + le32(height) + le16(1) + le16(24) +
      le32(0) + le32(imgSize) + le32(2835) + le32(2835) + le32(0) + le32(0)
    val rowHex = concat(
      concat_ws("", transform(vals,
        v => repeat(lpad(hex(v.cast(IntegerType)), 2, "0"), 3))),
      lit("00"))
    concat(unhex(lit(header)), unhex(repeat(rowHex, height)))
  }

  /** Expression-built 9x8 24-bit BMP with PER-ROW stripe values — the
    * near-dup fixture tier above [[bmpStripes]]: stripes repeat every
    * pixel ROW there, so all 8 dHash grid rows emit the same byte and the
    * effective pattern space collapses to 8 bits (at 5k docs that is
    * ~100k degenerate "identical" pairs — the r10 bench was measuring
    * pair materialization, not the banded join). Here row r carries its
    * OWN 9 gray values, so all 64 dHash bits are independent.
    *
    * `rowHexes` must be 8 per-row hex strings (top-down, dHash grid
    * order) whose first 18 chars are the row's 9 gray bytes — e.g. an
    * md5 hex digest per row. The hex pair IS the pixel byte for all
    * three channels (no int round-trip), so the builder is pure
    * codegen'd string ops — no higher-order-function lambdas, which are
    * interpreted and were the dominant cost of the first cut of this
    * fixture. BMP stores pixel rows bottom-up, so file row k carries
    * image row 7-k — the builder writes rows reversed and the decode
    * path is proven by the arithmetic oracle over the same values.
    */
  def bmpRows(rowHexes: Seq[Column]): Column = {
    require(rowHexes.length == 8, s"need exactly 8 rows, got ${rowHexes.length}")
    val width = 9; val height = 8
    val rowSize = 28 // 27 pixel bytes + 1 pad byte to the 4-byte boundary
    def le32(v: Int): String =
      f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X${(v >> 16) & 0xFF}%02X${(v >> 24) & 0xFF}%02X"
    def le16(v: Int): String = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    val imgSize = rowSize * height
    val header = "424D" + le32(54 + imgSize) + "00000000" + le32(54) +
      le32(40) + le32(width) + le32(height) + le16(1) + le16(24) +
      le32(0) + le32(imgSize) + le32(2835) + le32(2835) + le32(0) + le32(0)
    def rowPix(rh: Column) = concat(
      (0 until 9).map(i => repeat(substring(rh, i * 2 + 1, 2), 3)) :+ lit("00"): _*)
    concat(unhex(lit(header)),
      unhex(concat((height - 1 to 0 by -1).map(r => rowPix(rowHexes(r))): _*)))
  }

  /** Banded Hamming near-dup pairs over 64-bit signatures (e.g.
    * [[dhash64]]): the same pigeonhole guarantee as Dedup.nearDupSimhash —
    * with `bands > maxDist`, two signatures within Hamming `maxDist`
    * differ in at most `maxDist` bands and therefore share at least one
    * band exactly, so the result EQUALS the all-pairs scan while the join
    * shuffles only (band_idx, band_val, id, sig) rows keyed by tiny band
    * values. The top band uses an unsigned shift so the sign bit of the
    * 64-bit signature never smears the band value.
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist
    */
  def nearDupByHamming(sig: DataFrame, idCol: String, sigCol: String,
      bands: Int = 4, maxDist: Int = 3): DataFrame =
    Dedup.bandedHammingPairs(
      sig.select(col(idCol).as("id"), col(sigCol).as("sig")),
      bits = 64, bands = bands, maxDist = maxDist)

  // ===== audio feature extraction (PCM frame energy) =====================

  /** Expression-built canonical 44-byte-header WAV (PCM, mono, 16-bit):
    * `samplesHex` is the hex string of the little-endian 16-bit samples
    * (2 hex chars per byte, 4 per sample). PCM is uncompressed, so a
    * fixture built this way is a REAL playable WAV whose sample values an
    * oracle can recompute from the same hex — the audio analogue of
    * [[bmpStripes]].
    */
  def wavPcm16(samplesHex: Column, numSamples: Int, sampleRate: Int = 8000): Column = {
    require(numSamples > 0, s"numSamples must be positive: $numSamples")
    def le32(v: Int): String =
      f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X${(v >> 16) & 0xFF}%02X${(v >> 24) & 0xFF}%02X"
    def le16(v: Int): String = f"${v & 0xFF}%02X${(v >> 8) & 0xFF}%02X"
    val dataSize = numSamples * 2
    val header = "52494646" + le32(36 + dataSize) + "57415645" + // RIFF <sz> WAVE
      "666D7420" + le32(16) + le16(1) + le16(1) +                // fmt : PCM, mono
      le32(sampleRate) + le32(sampleRate * 2) + le16(2) + le16(16) +
      "64617461" + le32(dataSize)                                // data <sz>
    // null, not a corrupt file, when the hex length disagrees with the
    // declared sample count — a header whose size fields lie about the
    // payload breaks every downstream reader differently
    when(length(samplesHex) === numSamples * 4,
      concat(unhex(lit(header)), unhex(samplesHex)))
  }

  /** Per-frame RMS energy over CANONICAL-layout 16-bit PCM mono WAV
    * payloads — the audio feature-extraction stage of a multimodal
    * pipeline (silence trimming, energy-based segmentation, loudness
    * filters all start here). EXPRESSION-ONLY, no UDF: PCM is
    * uncompressed, so "decoding" a sample is hex arithmetic — unlike
    * images there is no codec to justify one.
    *
    * Canonical layout means the 44-byte header: 16-byte fmt chunk
    * followed immediately by the `data` chunk (what [[wavPcm16]] and most
    * minimal writers emit). Every fixed-offset field is CHECKED — RIFF,
    * WAVE, PCM, mono, 16-bit, AND the `data` chunk id — and the sample
    * count comes from min(declared data size, actual payload bytes), so a
    * WAV with trailing metadata chunks after `data` yields exactly its
    * declared samples, never garbage frames over chunk headers. Variant
    * layouts (18-byte fmt with cbSize, LIST before data) fail the `data`
    * magic check and contribute NO rows — explicitly unsupported rather
    * than silently mis-decoded. Truncated tails (incomplete frames) are
    * dropped.
    *
    * Scale shape: frames explode first and samples within a frame second,
    * so no row ever materializes a whole-clip index array (a 1-hour clip
    * is ~29M samples — one flat sequence() would be a ~230 MB array in a
    * single Generate input row); the per-frame sum-of-squares is a
    * map-side-combinable aggregate on exact integers, one sqrt per frame.
    *
    * Payload ceiling: the implementation hex-encodes each payload into
    * ONE string per row (2 chars per byte) and addresses samples through
    * Int `substr` positions, so a single clip is bounded by the Int
    * position space at ~1 GB of payload (~500 MB of hex-addressable
    * samples) and by Spark's 2 GB single-value limit well before that.
    * A 1-hour mono 8 kHz clip (~58 MB, ~116 MB hexed) sits comfortably
    * inside; multi-hour or multi-channel-48kHz clips must be pre-split
    * into bounded chunks (e.g. [[frameSample]] on the data section)
    * before this stage — per-row giant payloads are an anti-pattern at
    * scale regardless of this ceiling.
    *
    * Output: (idCol, frame, rms), rms = sqrt(mean(sample^2)) rounded to
    * 6 places.
    */
  def audioFrameEnergy(df: DataFrame, payloadCol: String, idCol: String,
      frameSamples: Int): DataFrame =
    pcmSampleRows(df, payloadCol, idCol, frameSamples)
      .groupBy("id", "frame")
      .agg(sum(col("__v") * col("__v")).as("__ss"))
      .select(col("id"), col("frame"),
        round(sqrt(col("__ss").cast("double") / frameSamples), 6).as("rms"))

  /** Per-frame zero-crossing rate: the fraction of consecutive sample
    * pairs whose signs differ strictly (product < 0 — a zero sample
    * breaks no crossing) — with RMS energy and band power the third
    * classic low-level audio feature (voiced/unvoiced and noisiness
    * screen). Same expression-only PCM extraction as
    * [[audioFrameEnergy]]; the lag runs in a (clip, frame)-keyed window
    * (never a global sort), and the crossing count is an exact integer.
    *
    * @return (id, frame, n_cross, zcr round-6) per frame
    */
  def audioZeroCrossings(df: DataFrame, payloadCol: String, idCol: String,
      frameSamples: Int): DataFrame = {
    // a 1-sample frame has zero consecutive pairs: the rate's (N-1)
    // denominator would be 0 -> Infinity zcr (sibling frame functions
    // validate their parameters; same convention here)
    require(frameSamples >= 2, s"frameSamples must be >= 2: $frameSamples")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "frame").orderBy("__k")
    pcmSampleRows(df, payloadCol, idCol, frameSamples)
      .withColumn("__prev", lag(col("__v"), 1).over(w))
      .groupBy("id", "frame")
      .agg(count(when(col("__prev") * col("__v") < 0, 1)).as("n_cross"))
      .select(col("id"), col("frame"), col("n_cross"),
        round(col("n_cross").cast("double")
          / lit((frameSamples - 1).toDouble), 6).as("zcr"))
  }

  /** Per-frame spectral band power: an unnormalized DFT at the requested
    * integer `bins` over each `frameSamples`-sample frame — P_b = Re_b² +
    * Im_b² with Re_b = Σ_k s_k·cos(2πbk/N), Im_b = Σ_k s_k·sin(2πbk/N).
    * The twiddles are plan-time literal arrays indexed by the in-frame
    * sample position (same literal-trig determinism contract as
    * [[DctT]]); the sums ride as FIXED-POINT longs (per-term trunc at
    * 1e-6 — order-invariant at any parallelism, exact in BIGINT up to
    * ~2^17 samples per frame), and only the final power is a shared
    * double formula DAG. Same expression-only PCM extraction and frame
    * explode shape as [[audioFrameEnergy]] — frames before samples, no
    * whole-clip row, no UDF.
    */
  def audioBandPower(df: DataFrame, payloadCol: String, idCol: String,
      frameSamples: Int, bins: Seq[Int]): DataFrame = {
    require(bins.nonEmpty, "bins must be non-empty")
    require(bins.distinct.size == bins.size,
      s"bins must be distinct (they name the agg columns): $bins")
    require(bins.forall(b => b >= 0 && b <= frameSamples / 2),
      s"bins must lie in [0, $frameSamples/2]: $bins")
    val rows = pcmSampleRows(df, payloadCol, idCol, frameSamples)
    def twSum(tw: Seq[Double], name: String) =
      sum((col("__v") * element_at(typedLit(tw), col("__k") + 1) * lit(1e6))
        .cast("long")).as(name)
    val aggs = bins.flatMap { b =>
      val (c, s) = dftTwiddles(frameSamples, b)
      Seq(twSum(c, s"__re_$b"), twSum(s, s"__im_$b"))
    }
    val g = rows.groupBy("id", "frame").agg(aggs.head, aggs.tail: _*)
    val stacked = s"stack(${bins.size}, " +
      bins.map(b => s"${b}L, `__re_$b`, `__im_$b`").mkString(", ") +
      ") as (bin, re, im)"
    // full-scale normalization (÷ 32768·N, a power of two for pow-2
    // frames → exact division) keeps power in [0, ~2] where round(…, 6)
    // is robust in BOTH engines — DuckDB's round computes x·1e6 past 2^53
    // for raw e10-magnitude powers and drops ulps
    val fs = 32768.0 * frameSamples
    val re = col("re").cast("double") / lit(1e6) / lit(fs)
    val im = col("im").cast("double") / lit(1e6) / lit(fs)
    g.select(col("id"), col("frame"), expr(stacked))
      .select(col("id"), col("frame"), col("bin"),
        round(re * re + im * im, 6).as("power"))
  }

  /** DFT twiddles for [[audioBandPower]] — public so the oracle generator
    * re-emits exactly these doubles as literals.
    */
  def dftTwiddles(frameSamples: Int, bin: Int): (Seq[Double], Seq[Double]) = (
    Seq.tabulate(frameSamples)(k => math.cos(2.0 * math.Pi * bin * k / frameSamples)),
    Seq.tabulate(frameSamples)(k => math.sin(2.0 * math.Pi * bin * k / frameSamples)))

  /** (id, frame, __k, __v): signed 16-bit PCM samples by frame — the
    * shared extraction of [[audioFrameEnergy]] / [[audioBandPower]].
    */
  private def pcmSampleRows(df: DataFrame, payloadCol: String, idCol: String,
      frameSamples: Int): DataFrame = {
    require(frameSamples > 0, s"frameSamples must be positive: $frameSamples")
    val p = col(payloadCol)
    val hx = col("__hx")
    // declared data-chunk byte count: LE32 at bytes 41-44 = hex chars 81-88
    val dataSize = conv(concat(hx.substr(87, 2), hx.substr(85, 2),
      hx.substr(83, 2), hx.substr(81, 2)), 16, 10).cast("long")
    val avail = (length(hx) / 2 - 44) / 2 // complete samples actually present
    val wav = df
      .where(p.isNotNull && length(p) > 44 &&
        substring(p, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        substring(p, 9, 4) === lit("WAVE".getBytes("US-ASCII")) &&
        substring(p, 21, 2) === unhex(lit("0100")) && // audioFormat = 1 (PCM)
        substring(p, 23, 2) === unhex(lit("0100")) && // channels = 1
        substring(p, 35, 2) === unhex(lit("1000")) && // bitsPerSample = 16
        substring(p, 37, 4) === lit("data".getBytes("US-ASCII")))
      .select(col(idCol).as("id"), hex(p).as("__hx"))
      .select(col("id"), col("__hx"),
        (least(dataSize / 2, avail) / frameSamples).cast("int").as("__nf"))
    val j = col("frame") * frameSamples + col("__k") // global sample index
    val v0 = conv(concat(
      hx.substr(lit(91) + j * 4, lit(2)),  // high byte (LE)
      hx.substr(lit(89) + j * 4, lit(2))), // low byte
      16, 10).cast("long")
    wav.where(col("__nf") > 0)
      .select(col("id"), col("__hx"),
        explode(sequence(lit(0L), col("__nf").cast("long") - 1)).as("frame"))
      .select(col("id"), col("frame"), col("__hx"),
        explode(sequence(lit(0), lit(frameSamples - 1))).as("__k"))
      .select(col("id"), col("frame"), col("__k"),
        when(v0 >= 32768L, v0 - 65536L).otherwise(v0).as("__v"))
  }

  // ===== image resize ====================================================

  /** Block-mean image resize to `outW` x `outH`, re-encoded as a 24-bit
    * BMP — the downsample stage of a multimodal pipeline (thumbnailing
    * before feature extraction / perceptual hashing). REAL codec pass in,
    * REAL encode out: ImageIO decodes any registered format; each output
    * pixel is the FLOOR of the exact integer channel sums over its source
    * block (the same deterministic block grid as [[dhash64]] — no float
    * accumulation, no resampling-kernel ambiguity, so an external oracle
    * can reproduce output bytes exactly); the result is a valid padded
    * bottom-up BMP any reader opens. Null for undecodable payloads or
    * sources smaller than the target. Justified UDF (codec tier).
    */
  private val resizeBmpUdf = udf((bytes: Array[Byte], outW: Int, outH: Int) => {
    if (bytes == null || outW <= 0 || outH <= 0) None
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth < outW || img.getHeight < outH) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val rowSize = ((3 * outW + 3) / 4) * 4
        val imgSize = rowSize * outH
        val out = new java.io.ByteArrayOutputStream(54 + imgSize)
        def le32(v: Int): Unit = {
          out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
          out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
        }
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        out.write('B'); out.write('M'); le32(54 + imgSize); le32(0); le32(54)
        le32(40); le32(outW); le32(outH); le16(1); le16(24)
        le32(0); le32(imgSize); le32(2835); le32(2835); le32(0); le32(0)
        var oy = outH - 1 // BMP rows are stored bottom-up
        while (oy >= 0) {
          var ox = 0
          while (ox < outW) {
            val x0 = ox * w / outW; val x1 = (ox + 1) * w / outW
            val y0 = oy * h / outH; val y1 = (oy + 1) * h / outH
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            val n = (x1 - x0).toLong * (y1 - y0)
            out.write((sb / n).toInt); out.write((sg / n).toInt); out.write((sr / n).toInt)
            ox += 1
          }
          var pad = rowSize - 3 * outW
          while (pad > 0) { out.write(0); pad -= 1 }
          oy -= 1
        }
        Some(out.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  })

  def resizeBmp(payload: Column, outW: Int, outH: Int): Column =
    resizeBmpUdf(payload, lit(outW), lit(outH))

  // ===== video-shaped frame sampling =====================================

  /** Deterministic frame sampling over an opaque fixed-frame-size media
    * payload: treat the payload as consecutive `frameBytes`-sized frames
    * (raw video planes, audio blocks, any framed container) and keep every
    * `stride`-th complete frame starting at `offset`. This is the
    * Spark-side slicing stage of video frame sampling — schema,
    * partitioning, batch shape; when the frames are themselves a
    * decodable image format the sampled frames feed straight into the
    * REAL codec pass ([[frameDecodeDhash]] / [[decodeImageFeatures]] /
    * [[dhash64]]); inter-frame-compressed codecs (H.264 etc.) have no
    * decoder in this container and stay out of scope. Expression-only and
    * scan-local: one binary substring per sampled frame, incomplete tails
    * dropped, no UDF, no shuffle.
    *
    * Output: (idCol, frame_idx, frame: binary).
    */
  def frameSample(df: DataFrame, payloadCol: String, idCol: String,
      frameBytes: Int, stride: Int, offset: Int = 0): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive: $frameBytes")
    require(stride > 0, s"stride must be positive: $stride")
    require(offset >= 0, s"offset must be non-negative: $offset")
    val p = col(payloadCol)
    val nFrames = (length(p) / frameBytes).cast("int")
    df.where(p.isNotNull && nFrames > offset)
      .select(col(idCol).as("id"), p.as("__p"),
        explode(sequence(lit(offset), nFrames - 1, lit(stride))).as("frame_idx"))
      .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
        col("__p").substr(col("frame_idx") * frameBytes + 1, lit(frameBytes))
          .as("frame"))
  }

  /** Frame sampling + REAL per-frame decode: [[frameSample]] slices the
    * framed payload and every sampled frame runs through the actual image
    * codec pass ([[dhash64]]: ImageIO decode, 9x8 block-mean grayscale,
    * 64-bit difference hash) — the full video-near-dup fingerprint stage
    * (sample frames, perceptually hash each, then band-join hashes via
    * [[nearDupByHamming]] to find duplicate clips). Works for any payload
    * whose frames are a self-contained ImageIO-decodable format (MJPEG-
    * style concatenated JPEGs, framed BMPs); undecodable frames yield a
    * null hash rather than an error. Scale shape inherits from
    * [[frameSample]]: scan-local slicing, codec work distributed per
    * sampled frame, no shuffle.
    *
    * Output: (id, frame_idx, dhash: long nullable).
    */
  def frameDecodeDhash(df: DataFrame, payloadCol: String, idCol: String,
      frameBytes: Int, stride: Int, offset: Int = 0): DataFrame =
    frameSample(df, payloadCol, idCol, frameBytes, stride, offset)
      .select(col("id"), col("frame_idx"), dhash64(col("frame")).as("dhash"))

  /** Scene-change detection: consecutive-frame perceptual distance (dHash
    * Hamming) over EVERY frame of a framed payload, cuts flagged above
    * `maxDist` bits — the shot-boundary step of a video-curation
    * pipeline. Frame 0 carries null dist/is_cut (no predecessor).
    *
    * Scale shape: frames explode scan-side and decode in place; the only
    * shuffle is the per-clip lag window, whose partition is one clip's
    * frames — bounded by clip length, never corpus-sized.
    */
  def sceneCuts(df: DataFrame, payloadCol: String, idCol: String,
      frameBytes: Int, maxDist: Int = 10): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frame_idx")
    val dist = when(col("__prev").isNotNull,
      bit_count(col("dhash").bitwiseXOR(col("__prev"))))
    frameDecodeDhash(df, payloadCol, idCol, frameBytes, stride = 1)
      .withColumn("__prev", lag("dhash", 1).over(w))
      .select(col("id"), col("frame_idx"),
        dist.cast("int").as("dist"),
        (dist > maxDist).as("is_cut"))
  }

  /** Pseudo-featurizer for NON-media payloads =======================
    * For payloads that are not decodable media (plain text bytes in the
    * synthetic tables), there is nothing for a codec to decode — this
    * produces a deterministic 8-dim pseudo-feature vector from the
    * payload's md5 so downstream feature plumbing (arrays, joins,
    * aggregation) is exercised with stable, oracle-checkable values.
    * REAL pixel decode is [[decodeImageFeatures]] above.
    */
  def fakeDecodeFeatures(payload: Column, dims: Int = 8): Column = {
    val h = md5(payload)
    array((0 until dims).map { d =>
      (conv(substring(h, d * 4 + 1, 4), 16, 10).cast(DoubleType) / lit(65535.0))
    }: _*)
  }

  /** "Resize" stub: recompute target dims preserving aspect ratio — the
    * arithmetic (and its null-safety) is the real part; pixel work would
    * live in the decoder.
    */
  def resizeMeta(df: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width").cast(DoubleType)
    val h = col("meta.height").cast(DoubleType)
    val scale = lit(maxSide.toDouble) / greatest(w, h)
    df.withColumn("resized_w",
        when(scale >= 1.0, col("meta.width")).otherwise(floor(w * scale).cast(IntegerType)))
      .withColumn("resized_h",
        when(scale >= 1.0, col("meta.height")).otherwise(floor(h * scale).cast(IntegerType)))
  }

  /** Frame sampling stub for video-like payloads: n evenly spaced byte
    * slices of the payload as `array<binary>` — the slicing/positioning
    * math is the Spark-side contract a real frame extractor plugs into.
    */
  def sampleFrames(payload: Column, n: Int, frameBytes: Int): Column = {
    val len = octet_length(payload)
    array((0 until n).map { i =>
      // start of slice i: 1-based, evenly spaced across the payload
      val start = (len - lit(frameBytes)).cast(DoubleType) * lit(i.toDouble / math.max(n - 1, 1))
      substring(payload, greatest(floor(start).cast(IntegerType) + 1, lit(1)), lit(frameBytes))
    }: _*)
  }

  /** Fixed-length payload chunking with a per-chunk content hash — the
    * audio/video "frame split" plumbing shape: one row per chunk, indexed,
    * with the total chunk count attached. Demonstrated on a STRING payload
    * so the DuckDB oracle can mirror it byte-for-byte (substr + md5 are
    * dialect-shared); a binary payload needs only `substring`→byte-slice.
    * Pure codegen'd expressions (sequence + transform + posexplode) — a
    * narrow per-row explode, no shuffle; chunk rows inherit the scan's
    * partitioning, which is what a downstream per-chunk decoder wants.
    * Empty payloads produce one empty chunk (n_chunks >= 1).
    */
  def chunkedHashes(df: DataFrame, payloadCol: String, idCol: String,
      chunkLen: Int): DataFrame = {
    val t = col(payloadCol)
    val n = greatest(ceil(length(t).cast(DoubleType) / chunkLen.toDouble)
      .cast(IntegerType), lit(1))
    df.select(col(idCol).as("id"), n.as("n_chunks"),
        posexplode(transform(sequence(lit(1), n),
          i => md5(t.substr((i - 1) * chunkLen + 1, lit(chunkLen))))).as(Seq("p", "chunk_md5")))
      .select(col("id"), (col("p") + 1).cast(IntegerType).as("chunk_idx"),
        col("n_chunks"), col("chunk_md5"))
  }

  /** Batched per-partition processing: the shape a real decoder needs —
    * group rows into fixed-size batches inside each partition (decoders
    * amortize model/codec init per batch, not per row). Returns
    * (id, batch_id, feature) rows. Uses mapPartitions deliberately: this is
    * genuine per-partition imperative logic (batch accumulation), the one
    * place SURVEY §7 allows it.
    */
  def batchedFeatures(df: DataFrame, idCol: String, batchSize: Int,
      decode: Column => Column = fakeDecodeFeatures(_, 8)): DataFrame = {
    val spark = df.sparkSession
    val withFeat = df.select(col(idCol).cast(LongType).as("id"),
      decode(col("payload")).as("feature"))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("batch_id", LongType),
      StructField("feature", ArrayType(DoubleType))))
    val rdd = withFeat.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.grouped(batchSize).zipWithIndex.flatMap { case (batch, bi) =>
        val batchId = pid.toLong * 1000000L + bi
        batch.map(r => Row(r.getLong(0), batchId, r.getSeq[Double](1)))
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
