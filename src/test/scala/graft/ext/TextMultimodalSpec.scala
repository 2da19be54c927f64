package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("rakeKeywords: degree/freq scoring over stopword-free phrase runs") {
    // phrases: [deep learning], [deep learning systems], [fun]
    // degree: deep 2+3=5, learning 2+3=5, systems 3, fun 1; freq 2,2,1,1
    // scores: deep 2.5, learning 2.5, systems 3, fun 1
    val df = Seq((1L, "deep learning is deep learning systems"),
      (2L, "it is fun")).toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(df, "text", "doc_id",
        Seq("is", "it"), k = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out("deep learning systems") == ((3L, 1L, 8.0))) // 2.5+2.5+3
    assert(out("deep learning") == ((2L, 1L, 5.0)))
    assert(out("fun") == ((1L, 1L, 1.0)))
    // top phrase is the longest compound
    val top = TextAnalysis.rakeKeywords(df, "text", "doc_id", Seq("is", "it"), 1)
      .head().getString(0)
    assert(top == "deep learning systems")
  }

  test("sStem: every rule and guard of the Harman S-stemmer") {
    val words = Seq("ties", "aies", "eies", "tables", "goes", "trees",
      "windows", "bus", "less", "scan", "s", "es", "ies")
    val out = words.toDF("w").select(TextAnalysis.sStem(col("w")))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq(
      "ty",      // ies -> y
      "aies",    // guard: a before ies — kept, no fall-through to es rule
      "eies",    // guard: e before ies — kept
      "table",   // es -> e
      "goes",    // guard: oes kept, no fall-through to the s rule
      "trees",   // guard: ees kept
      "window",  // s dropped
      "bus",     // guard: us kept
      "less",    // guard: ss kept
      "scan",    // no suffix
      "",        // bare "s": rule 3 fires (the 2-char guard slices to ''),
                 // dropping its only char — consistent engine/oracle
      "e",       // "es" stems by rule 2 (no length minimum in Harman)
      "y"))      // "ies" stems by rule 1
  }

  test("tokens: lowercase, split on non-alnum, drop empties") {
    val df = Seq("Hello, World!!  42-foo").toDF("text")
    val out = df.select(TextAnalysis.tokens(col("text"))).head().getSeq[String](0)
    assert(out == Seq("hello", "world", "42", "foo"))
  }

  test("langId picks the language with the highest stopword hit ratio") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is warm"),
      (2L, "der hund ist gross und das haus ist klein"),
      (3L, "el gato es negro y la casa es grande"),
      (4L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "es" && got(4L) == "und")
  }

  test("qualityMetrics golden on a hand-computed doc") {
    val df = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(df, "text").head()
    assert(r.getAs[Long]("n_chars_q") == 8L)
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(approx(r.getAs[Double]("mean_token_len"), 2.0))
    assert(approx(r.getAs[Double]("non_alnum_ratio"), 0.25)) // 2 spaces / 8 chars
    assert(approx(r.getAs[Double]("distinct_token_ratio"), 2.0 / 3.0, 1e-6))
  }

  test("fingerprint is whitespace/case-invariant") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world "), (3L, "different")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("subwordCount: ceil(len/4) per alnum run") {
    val df = Seq("abcdefgh xy").toDF("text") // 8/4=2 + 2/4->1 = 3
    assert(df.select(TextAnalysis.subwordCount(col("text"))).head().getLong(0) == 3L)
  }

  test("termStats counts occurrences and doc frequency") {
    val df = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val m = TextAnalysis.termStats(df, "text", "doc_id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("a") == (3L, 2L) && m("b") == (1L, 1L) && m("c") == (1L, 1L))
  }

  test("multimodal: payload bytes round-trip and metadata is populated") {
    val df = Seq((1L, "hello")).toDF("doc_id", "text")
    val out = Multimodal.attachBinary(df, "text")
    val r = out.select(col("payload"), col("meta.n_bytes"), col("meta.width"), col("meta.height")).head()
    assert(new String(r.getAs[Array[Byte]](0), "UTF-8") == "hello")
    assert(r.getLong(1) == 5L)
    assert(r.getInt(2) >= 32 && r.getInt(2) < 288 && r.getInt(3) >= 32)
  }

  test("multimodal: resize preserves aspect ratio and never upscales") {
    val df = Multimodal.attachBinary(Seq((1L, "some text payload")).toDF("doc_id", "text"), "text")
    val r = Multimodal.resizeMeta(df, 64)
      .select("meta.width", "meta.height", "resized_w", "resized_h").head()
    val (w, h, rw, rh) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    assert(rw <= w && rh <= h && math.max(rw, rh) <= 64)
  }

  test("multimodal: sampleFrames returns n slices of the payload") {
    val df = Multimodal.attachBinary(Seq((1L, "0123456789abcdef")).toDF("doc_id", "text"), "text")
    val frames = df.select(Multimodal.sampleFrames(col("payload"), 4, 4)).head().getSeq[Array[Byte]](0)
    assert(frames.size == 4 && frames.forall(_.length == 4))
    assert(new String(frames.head, "UTF-8") == "0123")
  }

  test("multimodal: batchedFeatures covers every row exactly once with fixed batch size") {
    val df = Multimodal.attachBinary(
      (1L to 20L).map(i => (i, s"doc number $i")).toDF("doc_id", "text"), "text")
    val out = Multimodal.batchedFeatures(df, "doc_id", batchSize = 6)
    assert(out.select("id").distinct().count() == 20L)
    val feat = out.where(col("id") === 1L).select("feature").head().getSeq[Double](0)
    assert(feat.size == 8 && feat.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("multimodal: detectKind dispatches on magic bytes, unknown otherwise") {
    val cases: Seq[(Array[Byte], String)] = Seq(
      (Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, 13, 10), "image/png"),
      (Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte), "image/jpeg"),
      ("GIF89a".getBytes("UTF-8"), "image/gif"),
      ("RIFF1234WAVEfmt ".getBytes("UTF-8"), "audio/wav"),
      (Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes("UTF-8"), "video/mp4"),
      ("%PDF-1.7".getBytes("UTF-8"), "application/pdf"),
      ("just some text".getBytes("UTF-8"), "unknown"))
    val df = cases.zipWithIndex.map { case ((b, exp), i) => (i, b, exp) }
      .toDF("i", "payload", "expected")
    val out = df.select(col("expected"),
      Multimodal.detectKind(col("payload")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("contaminatedDocs flags docs sharing an n-gram with the benchmark, misses clean ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 3-gram
      (2L, "totally unrelated content about spark executors and shuffles"),
      (3L, "quick brown fox appears here too")) // shares "quick brown fox"
      .toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox run")).toDF("bid", "btext")
    val out = TextAnalysis.contaminatedDocs(corpus, "text", "doc_id", bench, "btext", n = 3)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 3L))
  }

  test("stratifiedTargets returns exactly the target count per stratum, capped by size") {
    import graft.ops.Sampling
    val df = (1 to 30).map(i => (if (i <= 20) "a" else "b", i.toLong)).toDF("k", "id")
    val out = Sampling.stratifiedTargets(df, "k", "id", Map("a" -> 5L, "b" -> 100L))
    val counts = out.groupBy("k").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("a" -> 5L, "b" -> 10L)) // b capped by stratum size
    // strata not in targets are dropped
    assert(Sampling.stratifiedTargets(df, "k", "id", Map("a" -> 2L)).count() == 2)
  }

  test("winnowing guarantee: docs sharing a substring >= k+w-1 share a fingerprint; short docs empty") {
    val shared = "this exact common passage is long enough to guarantee overlap"
    val df = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"different lead-in $shared and another tail"),
      (3L, "completely disjoint text with nothing in common here at all"),
      (4L, "tiny")) // < k chars -> no grams -> empty fingerprint set
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((out(1) intersect out(2)).nonEmpty, "guaranteed shared fingerprint missing")
    // (docs 1/3 may legitimately share a fingerprint on any common 8-char
    // gram that wins a window — winnowing detects LOCAL overlap by design)
    assert(out(4).isEmpty)
  }

  test("ml: confusionMatrix counts (label, prediction) cells") {
    val preds = Seq((0.0, 0.0), (0.0, 0.0), (0.0, 1.0), (1.0, 1.0)).toDF("label", "prediction")
    val cm = graft.ml.Models.confusionMatrix(preds).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(cm == Seq((0.0, 0.0, 2L), (0.0, 1.0, 1L), (1.0, 1.0, 1L)))
  }

  // ---- real header decode, against REAL codec output (javax.imageio) ----

  private def encodeImage(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // non-constant pixels so JPEG doesn't degenerate
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("decodeMeta recovers dimensions from real PNG, JPEG and GIF bytes") {
    val rows = Seq(
      (1L, encodeImage(37, 21, "png"), "image/png"),
      (2L, encodeImage(64, 48, "jpg"), "image/jpeg"),
      (3L, encodeImage(13, 7, "gif"), "image/gif"))
    val df = rows.toDF("id", "payload", "want_mime")
    // no interpreted fallback: code the generator cannot compile must
    // fail here, not silently run interpreted. The UDF's result converter
    // is an UnsafeProjection, built by the codegen object factory (here
    // during local-relation folding), which `factoryMode` governs;
    // `fallback` governs whole-stage codegen.
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val got = try {
      df.select(col("id"), col("want_mime"),
          Multimodal.decodeMeta(col("payload")).as("m"))
        .select(col("id"), col("want_mime"), col("m.mime"), col("m.width"),
          col("m.height"), col("m.bit_depth"))
        .collect().map(r => r.getLong(0) ->
          (r.getString(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(got(1L) == ("image/png", 37, 21, 8))
    assert(got(2L) == ("image/jpeg", 64, 48, 8))
    assert(got(3L)._1 == "image/gif")
    assert((got(3L)._2, got(3L)._3) == (13, 7))
  }

  test("decodeMeta reads the WAV fmt chunk's sample rate (little-endian)") {
    // minimal canonical RIFF/WAVE header, 22050 Hz mono 16-bit
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(22050).putInt(44100)
      .putShort(2).putShort(16).put("data".getBytes("US-ASCII")).putInt(0)
    val df = Seq((1L, bb.array())).toDF("id", "payload")
    val m = df.select(Multimodal.decodeMeta(col("payload")).as("m"))
      .select(col("m.mime"), col("m.sample_rate")).head()
    assert(m.getString(0) == "audio/wav" && m.getInt(1) == 22050)
  }

  test("decodeMeta yields null dims on truncated/malformed payloads, not errors") {
    val rows = Seq(
      (1L, Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)),       // PNG magic only
      (2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte)), // JPEG SOI only
      (3L, "plain text".getBytes("UTF-8")))
    val df = rows.toDF("id", "payload")
    val got = df.select(col("id"), Multimodal.decodeMeta(col("payload")).as("m"))
      .select(col("id"), col("m.mime"), col("m.width")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.isNullAt(2))).toMap
    assert(got(1L)._2 && got(2L)._2 && got(3L) == ("unknown", true))
  }

  test("decodeImageFeatures: exact channel means on an ImageIO-written solid PNG") {
    val img = new java.awt.image.BufferedImage(
      10, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 10).foreach(x => (0 until 7).foreach(y =>
      img.setRGB(x, y, (12 << 16) | (200 << 8) | 56)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val df = Seq((1L, bos.toByteArray)).toDF("id", "payload")
    val f = df.select(Multimodal.decodeImageFeatures(col("payload")))
      .head().getSeq[Double](0)
    assert(f(0) == 12.0 && f(1) == 200.0 && f(2) == 56.0)
    val lum = 0.299 * 12 + 0.587 * 200 + 0.114 * 56 // = 127.372 -> bin 1
    assert(approx(f(3), lum))
    assert(f.drop(4) == Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("decodeImageFeatures: gradient PNG means match a driver-side pixel sweep") {
    val img = new java.awt.image.BufferedImage(
      16, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 9).foreach(y =>
      img.setRGB(x, y, ((x * 16) << 16) | ((y * 28) << 8) | ((x * y) & 0xFF))))
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Long](4)
    (0 until 16).foreach { x => (0 until 9).foreach { y =>
      val p = img.getRGB(x, y)
      val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
      sr += r; sg += g; sb += b
      hist(math.min(((0.299 * r + 0.587 * g + 0.114 * b) / 64.0).toInt, 3)) += 1L
    }}
    val n = 144.0
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val f = Seq((1L, bos.toByteArray)).toDF("id", "payload")
      .select(Multimodal.decodeImageFeatures(col("payload"))).head().getSeq[Double](0)
    assert(f(0) == sr / n && f(1) == sg / n && f(2) == sb / n)
    assert((0 to 3).forall(i => f(4 + i) == hist(i) / n))
  }

  test("bmpImage expression bytes decode through the REAL ImageIO reader") {
    val df = Seq((1L, 17, 250, 3), (2L, 255, 0, 128)).toDF("id", "r", "g", "b")
    val got = df.select(col("id"), col("r"), col("g"), col("b"),
        Multimodal.decodeImageFeatures(
          Multimodal.bmpImage(col("r"), col("g"), col("b"))).as("f"))
      .collect().map { w =>
        w.getLong(0) -> (w.getSeq[Double](4), w.getInt(1), w.getInt(2), w.getInt(3))
      }.toMap
    got.values.foreach { case (f, r, g, b) =>
      assert(f(0) == r.toDouble && f(1) == g.toDouble && f(2) == b.toDouble)
      assert(f.drop(4).sum == 1.0) // all mass in one luminance bin
    }
  }

  test("decodeImageFeatures is null for non-media payloads, not an error") {
    val df = Seq((1L, "not an image at all".getBytes("UTF-8"))).toDF("id", "payload")
    assert(df.select(Multimodal.decodeImageFeatures(col("payload"))).head().isNullAt(0))
  }

  test("pngHeader -> decodeMeta round-trips arbitrary geometry") {
    val df = Seq((1L, 640, 480), (2L, 33, 100000)).toDF("id", "w", "h")
    val m = df.select(col("id"), Multimodal.decodeMeta(
        Multimodal.pngHeader(col("w"), col("h"), lit(16))).as("m"))
      .select(col("id"), col("m.width"), col("m.height"), col("m.bit_depth"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(m(1L) == (640, 480, 16))
    assert(m(2L) == (33, 100000, 16))
  }

  test("dhash64 goldens on striped BMPs: ascending = all ones, descending = 0") {
    // strictly ascending stripes: every right neighbor brighter -> all 64
    // bits set (-1L); strictly descending -> no bit set (0L)
    val asc = (0 until 9).map(i => i * 20)
    val desc = asc.reverse
    val df = Seq((1L, asc), (2L, desc)).toDF("id", "vals")
    val got = df.select(col("id"),
        Multimodal.dhash64(Multimodal.bmpStripes(col("vals"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == -1L, f"ascending must set all bits, got ${got(1L)}%016x")
    assert(got(2L) == 0L)
  }

  test("phash64: DC dominance, scale invariance of bits, null on junk") {
    // a solid image has one dominant DC coefficient -> exactly the DC bit
    // can exceed the AC mean; brightness-scaled stripes keep the SAME
    // bits (DCT is linear, mean comparison is scale-invariant for
    // positive scale) while different stripe orders differ
    // even values only: halving is then EXACT in pixel space, and
    // round-to-nearest commutes with power-of-2 scaling, so the whole
    // DCT/mean comparison halves bit-consistently
    val a = (0 until 9).map(i => (i * 50) % 250)
    val b = a.map(v => v / 2) // half brightness, same structure
    val c = a.reverse
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "vals")
    val got = df.select(col("id"),
        Multimodal.phash64(Multimodal.bmpStripes(col("vals"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L),
      f"brightness scaling changed the hash: ${got(1L)}%016x vs ${got(2L)}%016x")
    assert(got(1L) != got(3L), "reversed stripes must hash differently")
    assert((got(1L) & 1L) == 1L, "DC coefficient must exceed the AC mean")
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    assert(junk.select(Multimodal.phash64(col("payload"))).head().isNullAt(0))
  }

  test("phash64 equals itself across a real re-encode (PNG vs BMP bytes)") {
    val stripes = Array(10, 250, 30, 200, 70, 160, 110, 40, 220)
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 9).foreach { x =>
      val v = stripes(x)
      (0 until 8).foreach(y => img.setRGB(x, y, (v << 16) | (v << 8) | v))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = Seq((1L, bos.toByteArray)).toDF("id", "payload")
      .select(Multimodal.phash64(col("payload"))).head().getLong(0)
    val bmp = Seq((1L, stripes.toSeq)).toDF("id", "vals")
      .select(Multimodal.phash64(Multimodal.bmpStripes(col("vals")))).head().getLong(0)
    assert(png == bmp, f"re-encode changed phash: $png%016x != $bmp%016x")
  }

  test("sceneCuts flags exactly the scene boundary, null at frame 0") {
    // 4 frames in 2 scenes: frames 0-1 identical, 2-3 identical, 1->2 far
    val sceneA = (0 until 9).map(i => i * 20)
    val sceneB = sceneA.reverse
    val frame: Seq[Int] => org.apache.spark.sql.Column =
      v => Multimodal.bmpStripes(typedLit(v))
    val df = Seq(1L).toDF("id")
      .select(col("id"), concat(
        frame(sceneA), frame(sceneA), frame(sceneB), frame(sceneB)).as("media"))
    val out = Multimodal.sceneCuts(df, "media", "id", frameBytes = 278, maxDist = 10)
      .orderBy("frame_idx").collect()
    assert(out.length == 4)
    assert(out(0).isNullAt(2) && out(0).isNullAt(3))
    assert(out(1).getInt(2) == 0 && !out(1).getBoolean(3))
    // ascending -> descending stripes: all 64 dHash bits flip
    assert(out(2).getInt(2) == 64 && out(2).getBoolean(3))
    assert(out(3).getInt(2) == 0 && !out(3).getBoolean(3))
  }

  test("audioBandPower: a pure bin-4 tone concentrates its power in bin 4") {
    // s_k = round(16384·cos(2π·4k/32)) over 64 samples (2 frames of 32):
    // normalized bin-4 power = (A·N/2 / (32768·N))² = (16384/65536)² ≈ 1/16
    val samples = (0 until 64).map(k =>
      math.round(16384.0 * math.cos(2.0 * math.Pi * 4 * k / 32)).toInt)
    val hexStr = samples.map { v =>
      val u = if (v < 0) v + 65536 else v
      f"${u & 0xFF}%02X${(u >> 8) & 0xFF}%02X" // LE16
    }.mkString
    val df = Seq((1L, hexStr)).toDF("id", "hx")
      .select(col("id"), Multimodal.wavPcm16(col("hx"), numSamples = 64).as("wav"))
    val out = Multimodal.audioBandPower(df, "wav", "id", frameSamples = 32,
        bins = Seq(1, 4, 8)).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(out.size == 6) // 2 frames x 3 bins
    for (f <- 0L to 1L) {
      assert(math.abs(out((f, 4L)) - 0.0625) < 1e-3, s"bin4 frame $f: ${out((f, 4L))}")
      assert(out((f, 1L)) < 1e-3 && out((f, 8L)) < 1e-3,
        s"off-bin leakage: ${out((f, 1L))}, ${out((f, 8L))}")
    }
  }

  test("dhash64 block-mean downsample on a real multi-pixel-block PNG") {
    // 18x16 image = 2x2 pixel blocks per grid cell; stripe value depends
    // only on the grid column, so block means reproduce the stripe list
    // and the hash must equal the 9x8 fixture hash for the same stripes
    val stripes = Array(10, 250, 30, 200, 70, 160, 110, 40, 220)
    val img = new java.awt.image.BufferedImage(
      18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 18).foreach { x =>
      val v = stripes(x / 2)
      (0 until 16).foreach(y => img.setRGB(x, y, (v << 16) | (v << 8) | v))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val big = Seq((1L, bos.toByteArray)).toDF("id", "payload")
      .select(Multimodal.dhash64(col("payload"))).head().getLong(0)
    val small = Seq((1L, stripes.toSeq)).toDF("id", "vals")
      .select(Multimodal.dhash64(Multimodal.bmpStripes(col("vals")))).head().getLong(0)
    assert(big == small, f"downsampled hash $big%016x != fixture hash $small%016x")
    // and undecodable / too-small payloads yield null, not errors
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    assert(junk.select(Multimodal.dhash64(col("payload"))).head().isNullAt(0))
  }

  test("audioZeroCrossings: alternating signs cross every pair, constants never") {
    // +1000/-1000 alternating: 31 crossings per 32-sample frame
    val alt = ("E803" + "18FC") * 32 // 64 samples alternating
    val const = "E803" * 64          // 64 samples of +1000
    val df = Seq((1L, alt), (2L, const)).toDF("id", "hx")
      .select(col("id"), Multimodal.wavPcm16(col("hx"), numSamples = 64).as("wav"))
    val got = Multimodal.audioZeroCrossings(df, "wav", "id", frameSamples = 32)
      .select("id", "frame", "n_cross").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 31L), (1L, 1L, 31L), (2L, 0L, 0L), (2L, 1L, 0L)))
  }

  test("audioZeroCrossings: a zero sample breaks no crossing (strict sign rule)") {
    // +1000, 0 alternating: every consecutive product is 0 — never
    // strictly negative, so zero crossings despite the dips to 0
    val dip = ("E803" + "0000") * 16 // 32 samples
    val df = Seq((1L, dip)).toDF("id", "hx")
      .select(col("id"), Multimodal.wavPcm16(col("hx"), numSamples = 32).as("wav"))
    val got = Multimodal.audioZeroCrossings(df, "wav", "id", frameSamples = 32)
      .select("n_cross").head().getLong(0)
    assert(got === 0L)
  }

  test("audioFrameEnergy: constant and signed samples give exact RMS; junk gives no rows") {
    // 1000 = 0x03E8 -> LE hex "E803"; -1000 = 0xFC18 -> LE "18FC"
    val pos = "E803" * 64  // 64 samples of +1000
    val neg = "18FC" * 64  // 64 samples of -1000
    val df = Seq((1L, pos), (2L, neg)).toDF("id", "hx")
      .select(col("id"), Multimodal.wavPcm16(col("hx"), numSamples = 64).as("wav"))
    val got = Multimodal.audioFrameEnergy(df, "wav", "id", frameSamples = 32)
      .select("id", "frame", "rms").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 0L, 1000.0), (1L, 1L, 1000.0),
      (2L, 0L, 1000.0), (2L, 1L, 1000.0)), s"got $got")
    val junk = Seq((9L, "not audio".getBytes("UTF-8"))).toDF("id", "wav")
    assert(Multimodal.audioFrameEnergy(junk, "wav", "id", 32).count() == 0)
  }

  test("audioFrameEnergy honors the declared data size and rejects variant layouts") {
    // canonical WAV + 40 trailing junk bytes: frames must come from the
    // DECLARED 64 samples only, never from the junk
    val wav = Seq((1L, "E803" * 64)).toDF("id", "hx")
      .select(Multimodal.wavPcm16(col("hx"), numSamples = 64)).head().getAs[Array[Byte]](0)
    val padded = wav ++ Array.fill[Byte](40)(0x41)
    val got = Multimodal.audioFrameEnergy(
        Seq((1L, padded)).toDF("id", "wav"), "wav", "id", frameSamples = 32)
      .select("frame", "rms").as[(Long, Double)].collect().toSet
    assert(got == Set((0L, 1000.0), (1L, 1000.0)), s"got $got")
    // 18-byte fmt variant (cbSize=0): 'data' is not at the canonical
    // offset -> explicitly unsupported, zero rows (never garbage)
    val variant = wav.take(36) ++ Array[Byte](0, 0) ++ wav.drop(36)
    assert(Multimodal.audioFrameEnergy(
      Seq((1L, variant)).toDF("id", "wav"), "wav", "id", 32).count() == 0)
    // wavPcm16 with a sample-count/hex-length mismatch yields null bytes
    val bad = Seq((1L, "E803" * 10)).toDF("id", "hx")
      .select(Multimodal.wavPcm16(col("hx"), numSamples = 64))
    assert(bad.head().isNullAt(0))
  }

  test("wavPcm16 builds a REAL WAV javax.sound can open (format + frame count)") {
    val bytes = Seq((1L, "E803" * 64)).toDF("id", "hx")
      .select(Multimodal.wavPcm16(col("hx"), numSamples = 64, sampleRate = 8000))
      .head().getAs[Array[Byte]](0)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 &&
      fmt.getSampleRate == 8000f && in.getFrameLength == 64)
  }

  test("resizeBmp: block means land in the right cells (bottom-up rows) and reopen") {
    // 6x4 source with a DIFFERENT value per 2x2 block: catches any
    // row-order (bottom-up) mistake in the BMP writer
    val cell = Array(Array(10, 80, 150), Array(40, 120, 240)) // [row][col]
    val img = new java.awt.image.BufferedImage(
      6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 6).foreach { x => (0 until 4).foreach { y =>
      val v = cell(y / 2)(x / 2)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }}
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val out = Seq((1L, bos.toByteArray)).toDF("id", "payload")
      .select(Multimodal.resizeBmp(col("payload"), 3, 2)).head().getAs[Array[Byte]](0)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(back.getWidth == 3 && back.getHeight == 2)
    (0 until 3).foreach { x => (0 until 2).foreach { y =>
      val p = back.getRGB(x, y)
      assert(((p >> 16) & 0xFF) == cell(y)(x) && (p & 0xFF) == cell(y)(x),
        s"cell ($x,$y): got ${p.toHexString}, want ${cell(y)(x)}")
    }}
    // undecodable or smaller-than-target sources yield null
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    assert(junk.select(Multimodal.resizeBmp(col("payload"), 3, 2)).head().isNullAt(0))
  }

  test("frameSample slices stride/offset frames exactly and drops incomplete tails") {
    val bytes = (0 until 35).map(_.toByte).toArray // 8 complete 4-byte frames + 3 tail
    val df = Seq((1L, bytes)).toDF("id", "media")
    val got = Multimodal.frameSample(df, "media", "id", frameBytes = 4, stride = 3, offset = 1)
      .select("frame_idx", "frame").as[(Long, Array[Byte])].collect()
      .map { case (i, b) => i -> b.toSeq }.toMap
    assert(got.keySet == Set(1L, 4L, 7L))
    assert(got(1L) == (4 until 8).map(_.toByte).toSeq)
    assert(got(7L) == (28 until 32).map(_.toByte).toSeq) // tail bytes 32-34 never emitted
    // payload shorter than (offset+1) frames contributes nothing
    val shortDf = Seq((2L, Array[Byte](1, 2, 3))).toDF("id", "media")
    assert(Multimodal.frameSample(shortDf, "media", "id", 4, 3, 1).count() == 0)
  }

  test("frameDecodeDhash: sampled frames run the REAL codec; junk frames hash null") {
    // payload = [ascending-stripe BMP | 278 junk bytes | descending BMP]:
    // the known dhash goldens (-1L / 0L) must come back per frame, and the
    // undecodable middle frame must yield a null hash, not an error
    def bmp(vals: Seq[Int]): Array[Byte] =
      Seq(Tuple1(vals)).toDF("vals")
        .select(Multimodal.bmpStripes(col("vals"))).head().getAs[Array[Byte]](0)
    val asc = bmp((0 until 9).map(_ * 20))
    val desc = bmp((0 until 9).map(i => (8 - i) * 20))
    assert(asc.length == 278 && desc.length == 278)
    val payload = asc ++ Array.fill[Byte](278)(0x55) ++ desc
    val got = Multimodal.frameDecodeDhash(
        Seq((1L, payload)).toDF("id", "media"), "media", "id",
        frameBytes = 278, stride = 1)
      .select("frame_idx", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(0L -> Some(-1L), 1L -> None, 2L -> Some(0L)), s"got $got")
  }

  test("nearDupByHamming equals the brute-force all-pairs Hamming scan") {
    // crafted signatures incl. the sign bit: pairs within dist 3 must all
    // surface (pigeonhole guarantee), none invented
    val sigs = Seq(
      (1L, 0L), (2L, 1L), (3L, 7L),                    // 1-2 d1, 1-3 d3, 2-3 d2
      (4L, -1L), (5L, -2L),                            // 4-5 d1 (sign bit set)
      (6L, 0x0F0F0F0F0F0F0F0FL))                       // far from everything
    val df = sigs.toDF("id", "sig")
    val got = Multimodal.nearDupByHamming(df, "id", "sig", bands = 4, maxDist = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val exp = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b) -> d).toMap
    assert(got == exp, s"got $got expected $exp")
  }
  test("noveltyScores: first owner gets the credit, copies get zero") {
    val base = "one two three four five six seven eight nine ten"
    val df = Seq((1L, base), (2L, base), (3L, base + " plus an entirely novel tail of words here")).toDF("doc_id", "text")
    val out = graft.Caches.scoped {
      TextAnalysis.noveltyScores(df, "text", "doc_id", gramTokens = 8)
        .orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    }
    assert(out(1L) == 1.0)   // first occurrence of every gram
    assert(out(2L) == 0.0)   // exact copy: nothing novel
    assert(out(3L) > 0.0 && out(3L) < 1.0) // shares the prefix grams only
  }

  test("redactPii counts and replaces emails, phones and IPs; clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+c@test.org or x@y.io call 555-123-4567 server 10.0.0.7 ok"),
      (2L, "no pii here just words and the number 12345"),
      (3L, "ip only 192.168.1.1")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 2L && out(0).getLong(2) == 1L && out(0).getLong(3) == 1L)
    assert(out(0).getString(4) ==
      "mail <EMAIL> or <EMAIL> call <PHONE> server <IP> ok")
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 0L && out(1).getLong(3) == 0L)
    assert(out(1).getString(4) == "no pii here just words and the number 12345")
    assert(out(2).getLong(3) == 1L && out(2).getString(4) == "ip only <IP>")
  }
}
