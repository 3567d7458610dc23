package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class TextAnalysisSpec extends AnyFunSuite with SparkTestBase {

  test("lang id on real multilingual samples") {
    import TextAnalysis.langIdOf
    assert(langIdOf("the cat sat on the mat and it was happy") == "en")
    assert(langIdOf("el perro corre por la calle y se va a la casa") == "es")
    assert(langIdOf("der Hund läuft auf der Straße und das ist gut") == "de")
    assert(langIdOf("le chien court dans la rue et il est dans une maison") == "fr")
    assert(langIdOf("今天天气很好我们去公园散步") == "zh")
    assert(langIdOf("") == "und")
    assert(langIdOf("zzz qqq xxx") == "und")
  }

  test("lang_id is native codegen (not a fallback) and agrees with langIdOf") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    assert(!TextAnalysis.LangId(
      org.apache.spark.sql.catalyst.expressions.Literal("x"))
      .isInstanceOf[CodegenFallback])
    // a range-backed frame: a local Seq is constant-folded before codegen
    val out = spark.range(2).selectExpr(
        "CASE WHEN id = 0 THEN 'the cat sat on the mat and it was for them' " +
          "ELSE 'el perro corre por la calle y se va' END AS text")
      .select(TextAnalysis.lang_id(col("text")).as("l"))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, "lang_id projection not inside a codegen stage")
    assert(out.as[String].collect().toSeq == Seq("en", "es"))
  }

  test("quality stats are exact integer counts") {
    import spark.implicits._
    val df = Seq((1L, "The cat, the dog. And a bird!")).toDF("id", "text")
    val row = TextAnalysis.qualityStats(df, "text").head()
    assert(row.getAs[Int]("n_chars") == 29)
    assert(row.getAs[Int]("n_tokens") == 7)
    assert(row.getAs[Int]("n_punct") == 3) // , . !
    assert(row.getAs[Int]("n_stop") == 4)  // the, the, and (lowered), a
  }

  test("docTypicality: junk vocab scores below corpus-typical vocab; bounds hold") {
    import spark.implicits._
    val df = (
      (1L to 20L).map(i => (i, "the data table holds the query rows")) :+
        (99L, "zxqv kjwp qqzz mmvv")   // tokens no other doc uses
      ).toDF("doc_id", "text")
    val rows = TextAnalysis.docTypicality(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // junk doc: every token df=1 of 21 docs → score = ⌊1e6/21⌋
    assert(rows(99L) == 1000000L / 21)
    // typical docs: every token appears in 20 of 21 docs
    assert(rows(1L) == 20L * 1000000L / 21)
    assert(rows.values.forall(v => v >= 0 && v <= 1000000L))
  }

  test("bpe-ish token count: letter runs + digit runs + single marks") {
    import spark.implicits._
    val df = Seq((1L, "don't stop123 now!!")).toDF("id", "text")
    // don | ' | t | stop | 123 | now | ! | !  → 8
    val n = df.select(TextAnalysis.bpeTokenCount($"text")).as[Int].head()
    assert(n == 8)
  }

  test("repeat collapse: runs collapse to one, separated repeats survive") {
    import spark.implicits._
    val df = Seq(
      (1L, "batch batch batch stream batch"), // run collapses, later solo kept
      (2L, "a a a a"),                        // whole doc is one run
      (3L, "x y x y"),                        // alternation: nothing collapses
      (4L, ""),                               // empty doc
      (5L, "Tick, tick... TICK!")             // case-folded + punct-split runs
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repeatCollapse(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq == Seq(
      (1L, 5L, 3L, "batch stream batch"),
      (2L, 4L, 1L, "a"),
      (3L, 4L, 4L, "x y x y"),
      (4L, 0L, 0L, ""),
      (5L, 3L, 1L, "tick")))
    // map-only contract: the only allowed exchange is ensureParallelism's
    // leading round-robin primer — the collapse itself never shuffles
    val plan = TextAnalysis.repeatCollapse(df, "doc_id", "text")
      .queryExecution.executedPlan
    // allPlanNodes: a naive collect stops at the AQE wrapper and would
    // make this forall vacuously true
    val exchanges = allPlanNodes(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(
      _.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]),
      "repeatCollapse must stay a map-only projection (round-robin primer aside)")
  }

  test("pii redaction replaces emails and urls, counts them") {
    import spark.implicits._
    val df = Seq((1L, "mail a.b+c@x-co.org or see https://x.org/a?b=1 now"))
      .toDF("id", "text")
    val r = TextAnalysis.redactPii(df, "text").head()
    assert(r.getAs[Int]("n_emails") == 1)
    assert(r.getAs[Int]("n_urls") == 1)
    assert(r.getAs[String]("redacted") == "mail <EMAIL> or see <URL> now")
  }

  test("sequence packing: bins respect budget, id order, greedy resets") {
    import spark.implicits._
    // tokens: 5, 5, 5, 9, 1 with budget 10 → bins 0,0,[5+5+5>10→]1,[10+9>10→]2,2
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d e"),
      (4L, "a b c d e f g h i"), (5L, "x"))
      .map { case (i, t) => ("g1", i, t) }.toDF("src", "id", "text")
    val packed = TextAnalysis.packSequences(df, "src", "id", "text", budget = 10)
      .orderBy("id").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(packed.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 2L)))
  }

  test("winnow fingerprint is deterministic and shift-tolerant") {
    import graft.functions.HashFunctions._
    val a = winnow("abcdefghijklmnopqrstuvwxyz", 5, 4)
    val b = winnow("abcdefghijklmnopqrstuvwxyz", 5, 4)
    assert(a.sameElements(b))
    // shared substring → shared fingerprint hashes
    val c = winnow("XXXXXdefghijklmnopqrstuvwxyz", 5, 4)
    assert(a.intersect(c).length > 0)
  }

  test("multimodal stub pipeline: schema + decode plumbing") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](9, 9, 9)))
      .toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "img/fake")
    // compare names + types; nullability differs for literal-built structs
    assert(media.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Multimodal.mediaSchema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq)
    val feats = Multimodal.decodeAndFeaturize(media).collect()
    assert(feats.length == 2)
    feats.foreach { r =>
      assert(r.getInt(1) == 8 && r.getInt(2) == 8 && r.getInt(3) == 3)
      val means = r.getSeq[Double](4)
      assert(means.length == 3)
      assert(means.forall(m => m >= 0.0 && m <= 1.0))
    }
    // deterministic: same payload → same features
    val again = Multimodal.decodeAndFeaturize(media).collect()
    assert(feats.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("PPM codec: real image bytes decode through the same pipeline") {
    import spark.implicits._
    import Multimodal.PpmCodec
    // hand-built 8×8 RGB P6 with a comment in the header: pixel (r,c)
    // has R = r·8+c (a gradient), G = 100, B = 200
    val px = new Array[Float](8 * 8 * 3)
    for (r <- 0 until 8; c <- 0 until 8) {
      px((r * 8 + c) * 3) = (r * 8 + c) / 255.0f
      px((r * 8 + c) * 3 + 1) = 100 / 255.0f
      px((r * 8 + c) * 3 + 2) = 200 / 255.0f
    }
    val bytes = PpmCodec.encodeImage(8, 8, 3, px)
    // splice a comment into the header to exercise the grammar
    val commented = (new String(bytes.take(3), "US-ASCII") + "# a comment\n")
      .getBytes("US-ASCII") ++ bytes.drop(3)
    val (w, h, c, decoded) = PpmCodec.decodeImage(commented)
    assert((w, h, c) == (8, 8, 3))
    assert(decoded.sameElements(px), "P6 round-trip must be exact at maxval 255")
    // the REAL bytes flow through the same distributed plumbing as the
    // stub: featurize + resize over a DataFrame of PPM payloads
    val df = Seq((7L, commented), (8L, PpmCodec.encodeImage(8, 8, 3,
      Array.fill(8 * 8 * 3)(1.0f)))).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "image/x-portable-pixmap")
    val feats = Multimodal.decodeAndFeaturize(media, PpmCodec)
      .collect().map(r => r.getLong(0) -> r).toMap
    // gradient image: channel sums are exact (Σ0..63, 64·100, 64·200)
    assert(feats(7L).getSeq[Long](feats(7L).fieldIndex("channel_sum")) ==
      Seq(63L * 64 / 2, 64L * 100, 64L * 200))
    assert(feats(8L).getSeq[Long](feats(8L).fieldIndex("channel_sum")) ==
      Seq(64L * 255, 64L * 255, 64L * 255))
    // resize on the gradient: block(0,0) = R pixels {0,1,8,9}; block(3,3)
    // = {54,55,62,63}; total = Σ0..63
    val rs = Multimodal.resizeFeatures(media, PpmCodec)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rs(7L) == ((0L + 1 + 8 + 9, 54L + 55 + 62 + 63, 63L * 64 / 2)))
    // grayscale P5 decodes to one channel
    val gray = PpmCodec.encodeImage(4, 2, 1, Array.fill(8)(0.5f))
    val (gw, gh, gc, gpx) = PpmCodec.decodeImage(gray)
    assert((gw, gh, gc) == (4, 2, 1) && gpx.forall(v => math.abs(v - 128 / 255.0f) < 1e-6))
    // malformed inputs fail loudly, not with garbage pixels
    intercept[IllegalArgumentException](PpmCodec.decodeImage("P6\n8 8\n255\n".getBytes))
    intercept[IllegalArgumentException](PpmCodec.decodeImage("P4\n1 1\n1\nx".getBytes))
    intercept[IllegalArgumentException](PpmCodec.decodeImage("P6\n8 8\n65535\n".getBytes))
  }

  test("PNG codec: real zlib-compressed bytes decode; all five filters reconstruct") {
    import spark.implicits._
    import Multimodal.{PngCodec, PpmCodec}
    // the PPM test's gradient, now through a REAL compressed container
    val px = new Array[Float](8 * 8 * 3)
    for (r <- 0 until 8; c <- 0 until 8) {
      px((r * 8 + c) * 3) = (r * 8 + c) / 255.0f
      px((r * 8 + c) * 3 + 1) = 100 / 255.0f
      px((r * 8 + c) * 3 + 2) = 200 / 255.0f
    }
    // every filter type must round-trip to identical pixels — this
    // exercises all five reconstruction paths, not just filter-0
    for (f <- 0 to 4) {
      val bytes = PngCodec.encodeImage(8, 8, 3, px, rowFilter = f)
      val (w, h, c, decoded) = PngCodec.decodeImage(bytes)
      assert((w, h, c) == (8, 8, 3), s"filter $f")
      assert(decoded.sameElements(px), s"filter $f round-trip not exact")
    }
    // PNG and PPM carrying the same pixels featurize identically
    val df = Seq(
      (1L, PngCodec.encodeImage(8, 8, 3, px, rowFilter = 4)),
      (2L, PpmCodec.encodeImage(8, 8, 3, px))).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "image/png")
    val feats = Multimodal.decodeAndFeaturize(media,
      new Multimodal.MediaCodec {
        override def decodeImage(b: Array[Byte]) =
          if (b.length > 0 && b(0) == 0x89.toByte) PngCodec.decodeImage(b)
          else PpmCodec.decodeImage(b)
      }).collect().map(r => r.getLong(0) ->
        r.getSeq[Long](r.fieldIndex("channel_sum"))).toMap
    assert(feats(1L) == feats(2L),
      "PNG and PPM of the same pixels must featurize identically")
    assert(feats(1L) == Seq(63L * 64 / 2, 64L * 100, 64L * 200))
    // greyscale (color type 0)
    val g = PngCodec.encodeImage(4, 2, 1, Array.fill(8)(0.5f), rowFilter = 2)
    val (gw, gh, gc, gpx) = PngCodec.decodeImage(g)
    assert((gw, gh, gc) == (4, 2, 1) &&
      gpx.forall(v => math.abs(v - 128 / 255.0f) < 1e-6))
    // ancillary chunks skip; malformed inputs fail loudly
    val ok = PngCodec.encodeImage(2, 2, 3, Array.fill(12)(0.25f))
    intercept[IllegalArgumentException](PngCodec.decodeImage(ok.drop(1)))
    intercept[IllegalArgumentException](
      PngCodec.decodeImage(ok.take(ok.length - 20))) // no IEND/truncated
    val corrupt = ok.clone()
    corrupt(40) = (corrupt(40) ^ 0x55).toByte // flip a byte inside IDAT
    intercept[IllegalArgumentException](PngCodec.decodeImage(corrupt))
  }

  test("ImageIO codec: JDK readers cross-validate the hand-rolled PNG decoder; JPEG/BMP decode") {
    import Multimodal.{ImageIoCodec, PngCodec}
    val px = new Array[Float](8 * 8 * 3)
    for (r <- 0 until 8; c <- 0 until 8) {
      px((r * 8 + c) * 3) = (r * 8 + c) / 255.0f
      px((r * 8 + c) * 3 + 1) = 100 / 255.0f
      px((r * 8 + c) * 3 + 2) = 200 / 255.0f
    }
    // our PNG bytes through the JDK reader: bit-identical pixels — two
    // independent implementations agreeing on shared ground
    val pngBytes = PngCodec.encodeImage(8, 8, 3, px, rowFilter = 4)
    val (w1, h1, c1, viaJdk) = ImageIoCodec.decodeImage(pngBytes)
    assert((w1, h1, c1) == (8, 8, 3))
    assert(viaJdk.sameElements(px), "JDK PNG decode differs from PngCodec")
    // JDK-written formats beyond the hand-rolled subset: BMP (lossless —
    // exact) and JPEG (lossy — dims/channels exact, pixels approximate)
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (r <- 0 until 8; c <- 0 until 8) {
      val o = (r * 8 + c) * 3
      img.setRGB(c, r, ((px(o) * 255).round << 16) |
        ((px(o + 1) * 255).round << 8) | (px(o + 2) * 255).round)
    }
    def writeAs(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val (bw, bh, bc, bmpPx) = ImageIoCodec.decodeImage(writeAs("bmp"))
    assert((bw, bh, bc) == (8, 8, 3) && bmpPx.sameElements(px))
    val (jw, jh, jc, jpgPx) = ImageIoCodec.decodeImage(writeAs("jpg"))
    assert((jw, jh, jc) == (8, 8, 3))
    val maxErr = jpgPx.zip(px).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 0.25, s"JPEG decode wildly off: max channel error $maxErr")
    // garbage fails loudly (the contract decodeWithQuarantine catches)
    intercept[IllegalArgumentException](
      ImageIoCodec.decodeImage(Array[Byte](1, 2, 3, 4)))
  }

  test("quarantine decode: malformed payloads become rows, not task aborts") {
    import spark.implicits._
    import Multimodal.PngCodec
    val px = Array.fill(12)(0.25f)
    val good = PngCodec.encodeImage(2, 2, 3, px)
    val truncated = good.take(good.length - 20)
    // FDICT zlib stream inside a valid PNG frame: the ADVICE r12 hang
    // case — must fail loudly (preset dictionary unsupported), and here
    // must land in quarantine, never spin or abort the stage
    val fdict = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.write(be32(data.length)); out.write(typ.getBytes("US-ASCII"))
        out.write(data); out.write(be32(0)) // CRC unchecked by the codec
      }
      chunk("IHDR", be32(1) ++ be32(1) ++ Array[Byte](8, 0, 0, 0, 0))
      // zlib header 0x78 0x20: FDICT set, (0x78*256+0x20) % 31 == 0
      chunk("IDAT", Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6))
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    val df = Seq(
      (1L, good), (2L, truncated), (3L, fdict), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "image/png")
    val out = Multimodal.decodeWithQuarantine(media, PngCodec)
      .orderBy("media_id").collect()
    assert(out.length == 4, "every input row must surface exactly once")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getBoolean(1) && byId(1L).isNullAt(7))
    assert(byId(1L).getSeq[Long](byId(1L).fieldIndex("channel_sum")) ==
      Seq.fill(3)(4L * 64)) // 4 px × round(0.25·255)=64
    Seq(2L, 3L, 4L).foreach { id =>
      assert(!byId(id).getBoolean(1), s"row $id must quarantine")
      assert(byId(id).isNullAt(2) && !byId(id).isNullAt(7))
    }
    assert(byId(3L).getString(7).contains("preset dictionary"),
      s"FDICT case surfaced as: ${byId(3L).getString(7)}")
    assert(byId(4L).getString(7).contains("null payload"))
  }

  test("WAV codec: real RIFF/PCM audio bytes decode through the audio pipeline") {
    import spark.implicits._
    import Multimodal.WavCodec
    // 16-bit mono round-trip: ±0.5 square wave (0.5·32768 = 16384 is an
    // exact 16-bit code, so decode must be bit-exact)
    val square = Array.tabulate(8)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val (sr, ch, smp) = WavCodec.decodeAudio(WavCodec.encodeAudio(8000, 1, square))
    assert((sr, ch) == ((8000, 1)))
    assert(smp.sameElements(square), "16-bit PCM round-trip must be exact at ±0.5")
    // stereo: channel count rides the fmt chunk; frames stay interleaved
    val (_, ch2, smp2) = WavCodec.decodeAudio(WavCodec.encodeAudio(44100, 2, square))
    assert(ch2 == 2 && smp2.length == 8)
    // 8-bit variant is UNSIGNED per the spec, and unknown chunks (LIST)
    // between fmt and data must be skipped — hand-built payload
    val b8 = java.nio.ByteBuffer.allocate(12 + 24 + 12 + 11)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b8.put("RIFF".getBytes("US-ASCII")).putInt(36 + 3).put("WAVE".getBytes("US-ASCII"))
    b8.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    b8.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    b8.put("data".getBytes("US-ASCII")).putInt(3)
      .put(128.toByte).put(255.toByte).put(0.toByte)
    val (sr8, ch8, smp8) = WavCodec.decodeAudio(b8.array())
    assert((sr8, ch8) == ((8000, 1)))
    assert(smp8.toSeq == Seq(0.0f, 127 / 128.0f, -1.0f))
    // the REAL bytes flow through the distributed audio plumbing: the
    // square wave quantizes to ±1024, so features are known integers
    val df = Seq((5L, WavCodec.encodeAudio(8000, 1, square))).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "audio/wav")
    val r = Multimodal.audioFeatures(media, WavCodec).collect().head
    assert((r.getInt(1), r.getInt(2), r.getInt(3)) == ((8000, 1, 8)))
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) == ((8L * 1024, 0L, 7L)))
    // malformed inputs fail loudly, not with garbage samples
    intercept[IllegalArgumentException](WavCodec.decodeAudio("RIFFxxxx".getBytes))
    val noData = java.util.Arrays.copyOf(
      WavCodec.encodeAudio(8000, 1, square), 12 + 24) // header+fmt only
    intercept[IllegalArgumentException](WavCodec.decodeAudio(noData))
    val float32 = WavCodec.encodeAudio(8000, 1, square)
    float32(20) = 3 // audioFormat = IEEE float — unsupported, must refuse
    intercept[IllegalArgumentException](WavCodec.decodeAudio(float32))
  }

  test("AVI codec: real container bytes decode frames through the video pipeline") {
    import spark.implicits._
    import Multimodal.AviCodec
    // two 4x2 frames: frame 0 a red gradient (R = pixel index * 16),
    // frame 1 solid white — exact 8-bit codes, so round-trip is exact
    val f0 = new Array[Float](4 * 2 * 3)
    for (i <- 0 until 8) f0(i * 3) = (i * 16) / 255.0f
    val f1 = Array.fill(4 * 2 * 3)(1.0f)
    val avi = AviCodec.encodeVideo(4, 2, Seq(f0, f1))
    val (w, h, c, frames) = AviCodec.decodeVideo(avi)
    assert((w, h, c, frames.length) == ((4, 2, 3, 2)))
    assert(frames(0).sameElements(f0) && frames(1).sameElements(f1),
      "BI_RGB 24-bit round-trip must be exact (bottom-up BGR <-> top-down RGB)")
    // the REAL bytes flow through the distributed frame pipeline
    val df = Seq((3L, avi)).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "video/avi")
    val feats = Multimodal.videoFrameFeatures(media, AviCodec, nFrames = 4, stride = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    // frame 0: sum of R = 0+16+...+112 = 448; frame 1: 8*255; only 2 frames exist
    assert(feats.toSeq == Seq((0, (0 until 8).map(_ * 16).sum.toLong), (1, 8L * 255)))
    // malformed inputs fail loudly
    intercept[IllegalArgumentException](AviCodec.decodeVideo("RIFFxxxxWAVE".getBytes))
    val compressed = avi.clone()
    // flip biCompression in strf (locate it: 'strf' tag + 8 body offset + 16)
    val strfAt = avi.indexOfSlice("strf".getBytes("US-ASCII"))
    compressed(strfAt + 8 + 16) = 1 // BI_RLE8 — unsupported, must refuse
    intercept[IllegalArgumentException](AviCodec.decodeVideo(compressed))
  }

  test("WAV codec round-trip property: any samples/rate/channels survive 16-bit quantization") {
    import Multimodal.WavCodec
    import org.scalacheck.Gen
    val gen = for {
      sr <- Gen.choose(1, 192000)
      ch <- Gen.choose(1, 8)
      n <- Gen.choose(0, 64)
      smp <- Gen.listOfN(n, Gen.choose(-1.0f, 1.0f))
    } yield (sr, ch, smp.toArray)
    new graft.PropHelper {}.forAllG(gen) { case (sr, ch, smp) =>
      val (sr2, ch2, out) = WavCodec.decodeAudio(WavCodec.encodeAudio(sr, ch, smp))
      assert(sr2 == sr && ch2 == ch && out.length == smp.length)
      // 16-bit quantization: worst-case error is one code step (1/32768)
      // plus the clamp at +1.0 (32767/32768 is the largest positive code)
      out.zip(smp).foreach { case (o, s) =>
        assert(math.abs(o - s) <= 1.5f / 32768.0f + 1e-7f,
          s"sample $s decoded as $o")
      }
    }
  }

  test("oracle audio codec: deterministic mod-P samples, exact quantization recovery") {
    import spark.implicits._
    import Multimodal.OracleAudioCodec
    val (sr, ch, smp) = OracleAudioCodec.decodeAudio("abc".getBytes)
    assert((sr, ch, smp.length) == ((16000, 1, 256)))
    // every sample is q/2048 with q ∈ [-2048, 2047]: round(s·2048) must
    // recover q exactly (the property the hash oracle stands on)
    smp.foreach { s =>
      val q = math.round(s * 2048.0f)
      assert(q >= -2048 && q <= 2047 && q / 2048.0f == s)
    }
    val df = Seq((1L, "abc".getBytes), (2L, "abc".getBytes)).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "audio/fake")
    val rows = Multimodal.audioFeatures(media).collect()
    assert(rows.length == 2, "null-safe, one feature row per payload")
    // same payload → identical features (rerun-stable)
    assert(rows.map(r => (r.getLong(4), r.getLong(5), r.getLong(6))).distinct.length == 1)
  }

  test("frame sampling plan") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1))).toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "video/fake")
    val frames = Multimodal.sampleFrameIndexes(media, nFrames = 4, stride = 8)
      .select("frame_idx").as[Int].collect()
    assert(frames.toSeq == Seq(0, 8, 16, 24))
  }

  test("resize block sums are consistent with the decode path's channel sums") {
    import spark.implicits._
    val df = Seq((1L, "abc".getBytes), (2L, "another payload".getBytes))
      .toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "img/fake")
    val resized = Multimodal.resizeFeatures(media, Multimodal.OracleCodec)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val decoded = Multimodal.decodeAndFeaturize(media, Multimodal.OracleCodec)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("channel_sum")).head).toMap
    decoded.foreach { case (id, c0) =>
      val (b00, b33, total) = resized(id)
      assert(total == c0, s"media $id: resize total $total != decode channel sum $c0")
      assert(b00 >= 0 && b00 <= 4 * 255 && b33 >= 0 && b33 <= 4 * 255)
    }
  }

  test("frame featurization: 4 frames per media, deterministic, frame-distinct") {
    import spark.implicits._
    val df = Seq((1L, "payload one".getBytes), (2L, "payload two".getBytes))
      .toDF("id", "payload")
    val media = Multimodal.toMediaFrame(df, "id", "payload", "video/fake")
    val rows = Multimodal.frameFeatures(media, nFrames = 4, stride = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 8)
    assert(rows.groupBy(_._1).values.forall(_.map(_._2).sorted.sameElements(Seq(0, 8, 16, 24))))
    // the frame seed moves across frames (sums can still collide by
    // chance — they're 64-term sums mod 256 — so require >1, not 4)
    assert(rows.filter(_._1 == 1L).map(_._3).distinct.length > 1)
    val again = Multimodal.frameFeatures(media, 4, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.sortBy(t => (t._1, t._2)).sameElements(again.sortBy(t => (t._1, t._2))))
  }

  test("bigram novelty: novel bigrams counted, reference bigrams not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "the cat sat here"),        // reference
      (2L, "the cat ran away"),        // probe: "the cat" seen; 2 novel
      (3L, "entirely new words only"), // probe: all 3 novel
      (4L, "x")                        // probe: 1 token → no bigrams, drops
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramNovelty(df, "doc_id", "text", col("doc_id") === 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(2L) == (3L, 2L)) // "the cat" known; "cat ran","ran away" novel
    assert(rows(3L) == (3L, 3L))
    assert(!rows.contains(4L))
    assert(!rows.contains(1L)) // reference docs are not scored
  }

  test("bigram novelty: empty and punctuation-only docs drop out instead of aborting") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // zero-token docs used to feed slice(ts, 1, -1), which Spark rejects
    // at runtime and failed the whole query — they must simply drop out
    val df = Seq(
      (1L, "the cat sat here"), // reference
      (2L, "the cat ran away"), // probe with bigrams
      (3L, ""),                 // probe: empty → zero tokens
      (4L, "!!! ... ??? --")    // probe: punctuation-only → zero tokens
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramNovelty(df, "doc_id", "text", col("doc_id") === 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(2L) == (3L, 2L))
    assert(!rows.contains(3L) && !rows.contains(4L))
  }

  test("repetition stats: exact integer counts incl. modal bigram") {
    import spark.implicits._
    // "a b a b a" → tokens 5, distinct 2; bigrams: ab, ba, ab, ba →
    // total 4, distinct 2, modal 2. "x y z" → 3/3, bigrams 2/2/1.
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows(1L) == (5, 2, 4L, 2L, 2L))
    assert(rows(2L) == (3, 3, 2L, 2L, 1L))
    assert(!rows.contains(3L)) // single token → no bigrams → drops out
  }

  test("winnow overlap: copies of eval docs share fingerprints, novel text shares fewer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val df = Seq(
      (100L, evalText),                            // eval
      (1L, evalText),                              // probe: exact copy
      (2L, "completely different words about machine learning pipelines and spark")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.winnowOverlap(df, "doc_id", "text", col("doc_id") === 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nFp1, nShared1) = rows(1L)
    assert(nFp1 == nShared1 && nFp1 > 0, "exact copy must share every fingerprint")
    val (nFp2, nShared2) = rows(2L)
    assert(nShared2 < nFp2, "novel doc must not fully overlap")
    assert(!rows.contains(100L)) // eval docs are not scored
  }

  test("decontaminate drops eval-overlapping docs, keeps clean and tiny docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val df = Seq(
      (100L, evalText),                            // eval partition
      (1L, evalText),                              // contaminated: exact copy
      (2L, "benchmark answer leaked: " + evalText),// contaminated: superset
      (3L, "completely different words about machine learning pipelines and spark"),
      (4L, "tiny")                                 // too short for any fingerprint
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.decontaminate(df, "doc_id", "text",
      isEval = col("doc_id") === 100L)
      .select("doc_id").as[Long].collect().sorted
    // contaminated docs scrubbed; the clean doc and the fingerprint-less
    // doc survive; the eval doc itself is not training data
    assert(kept.toSeq == Seq(3L, 4L), s"kept ${kept.toSeq}")
  }

  test("tfidf top terms: integer score ranks rare terms above common ones") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple apple apple common"),
      (2L, "banana common common"),
      (3L, "cherry common")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTop(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byDoc = top.groupBy(_._1)
    // doc 1: apple tf=3 df=1 → 3000000; common tf=1 df=3 → 333333
    assert(byDoc(1L).sortBy(_._2).map(t => (t._3, t._6)).toSeq ==
      Seq(("apple", 3000000L), ("common", 333333L)))
    // doc 3: cherry (1000000) above common (333333)
    assert(byDoc(3L).sortBy(_._2).map(_._3).toSeq == Seq("cherry", "common"))
    // ties broken by token asc: doc 2's banana 1000000 > common 666666
    assert(byDoc(2L).sortBy(_._2).map(_._3).toSeq == Seq("banana", "common"))
  }

  test("chunkDocuments: window arithmetic, overlap, reassembly, edge docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val doc = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, doc),               // 100 tokens
      (2L, "only three words"),// single short chunk
      (3L, ""),                // no tokens → no chunks
      (4L, "   "),             // whitespace only → no chunks
      (5L, (1 to 32).map(i => s"t$i").mkString(" "))) // exactly size → 1 chunk
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text", size = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    val byDoc = out.groupBy(_.getLong(0))
    // n=100: ceil((100-32)/24)+1 = ceil(68/24)+1 = 3+1 = 4 chunks
    val d1 = byDoc(1L).sortBy(_.getLong(1))
    assert(d1.length == 4)
    // chunk i covers tokens [24i, min(24i+32, 100)) — check texts exactly
    d1.zipWithIndex.foreach { case (r, i) =>
      val lo = 24 * i
      val hi = math.min(lo + 32, 100)
      assert(r.getString(2) == (lo + 1 to hi).map(j => s"w$j").mkString(" "),
        s"chunk $i text mismatch")
      assert(r.getLong(3) == hi - lo)
    }
    // consecutive chunks overlap by size − stride = 8 tokens
    val c0 = d1(0).getString(2).split(" ")
    val c1 = d1(1).getString(2).split(" ")
    assert(c0.takeRight(8).sameElements(c1.take(8)))
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getLong(3) == 3L)
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    assert(byDoc(5L).length == 1 && byDoc(5L).head.getLong(3) == 32L)
    // stride == size (no overlap): chunks partition the stream exactly
    val flat = TextAnalysis.chunkDocuments(df.filter(col("doc_id") === 1L),
      "doc_id", "text", size = 25, stride = 25)
      .orderBy(col("chunk_id")).collect()
    assert(flat.map(_.getString(2)).mkString(" ") == doc)
    assert(flat.map(_.getLong(3)).sum == 100L)
    // carryCols ride along between id and chunk_id (no join needed to
    // recover grouping keys downstream)
    val carried = TextAnalysis.chunkDocuments(
      df.withColumn("grp", col("doc_id") % 2), "doc_id", "text",
      size = 32, stride = 24, carryCols = Seq("grp"))
    assert(carried.schema.fieldNames.toSeq ==
      Seq("doc_id", "grp", "chunk_id", "chunk_text", "n_chunk_tokens"))
    assert(carried.filter(col("grp") =!= col("doc_id") % 2).count() == 0)
  }

  test("quality classifier: scores replay the stated hash/weight contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val P = graft.functions.HashFunctions.P
    // independent replay of the contract (tokenize → capped-16 Horner →
    // bucket → affine weight), written AGAINST THE SPEC, not the code
    def refScore(text: String): Long =
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).map { tok =>
        val h = tok.take(16).foldLeft(0L)((a, c) => (a * 131L + c) % P)
        ((h % 1024 + 1L) * 2654435761L) % P % 2001L - 1000L
      }.sum
    val texts = Seq(
      "The quick brown Fox!",
      "a a a",                       // occurrences count (bag, not set)
      "",                            // no tokens → 0
      "¡señor! 42 naïve café",       // non-ASCII letters break tokens
      "x" * 40 + " tail")            // >16-char token hashes its prefix
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.classifyQuality(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i).getLong(1) == refScore(t),
        s"doc $i '$t': got ${got(i).getLong(1)}, want ${refScore(t)}")
      assert(got(i).getBoolean(2) == (refScore(t) > 0L))
    }
    // bag-of-words: triple token = 3× the single-token weight
    val one = refScore("a")
    assert(refScore("a a a") == 3 * one)
    // null text scores 0 on BOTH paths: the scalar, and the operator
    // (which coalesces the null-propagating expression — oracle parity)
    assert(TextAnalysis.qualityScoreOf(null) == 0L)
    val withNull = Seq((0L, Option("a b")), (1L, Option.empty[String]))
      .toDF("doc_id", "text")
    val nr = TextAnalysis.classifyQuality(withNull, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(nr(1).getLong(1) == 0L && !nr(1).getBoolean(2))
  }

  test("dsirSelect: scores replay the bigram-ratio contract; top-K exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val P = graft.functions.HashFunctions.P
    val B = 16
    val scale = 1000000L
    val texts = Seq(
      (0L, "the cat sat on the mat", "en"),
      (1L, "the dog sat on the log", "en"),
      (2L, "der hund sitzt auf dem baum", "de"),
      (3L, "one", "en"),                       // <2 tokens → score 0
      (4L, "the cat sat on the mat", "de"),    // same text, not target
      (5L, "el gato grande duerme aqui", "es"),
      (6L, "", "en"))
    val df = texts.toDF("doc_id", "text", "lang")
    // reference, written against the stated contract
    def bkts(text: String): Seq[Long] = {
      val hs = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .map(t => t.take(16).foldLeft(0L)((a, c) => (a * 131L + c) % P))
      hs.sliding(2).filter(_.length == 2)
        .map(p => (p(0) * 131L + p(1)) % P % B).toSeq
    }
    val srcC = texts.flatMap(t => bkts(t._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tgtC = texts.filter(_._3 == "en").flatMap(t => bkts(t._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (sTot, tTot) = (srcC.values.sum, tgtC.values.sum)
    def r(b: Long): Long =
      (BigInt(scale) * BigInt(tgtC.getOrElse(b, 0L) + 1) * BigInt(sTot + B) /
        (BigInt(srcC.getOrElse(b, 0L) + 1) * BigInt(tTot + B))).toLong
    val want = texts.map { case (id, t, _) => id -> bkts(t).map(r).sum }.toMap
    val got = TextAnalysis.dsirSelect(df, df.filter(col("lang") === "en"),
      "doc_id", "text", buckets = B, keepFrac = 0.25)
      .orderBy(col("doc_id")).collect()
    got.foreach { row =>
      assert(row.getLong(1) == want(row.getLong(0)),
        s"doc ${row.getLong(0)}: score ${row.getLong(1)} != ${want(row.getLong(0))}")
    }
    // exact top-K selection: K = ceil(0.25·7) = 2, by (score desc, id)
    val topK = want.toSeq.sortBy { case (id, s) => (-s, id) }.take(2).map(_._1).toSet
    assert(got.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == topK)
    // empty/short docs score 0
    assert(want(3L) == 0L && want(6L) == 0L)
    // target == corpus ⇒ every ratio is exactly `scale` ⇒ score = scale·|bigrams|
    val self = TextAnalysis.dsirSelect(df, df, "doc_id", "text",
      buckets = B, keepFrac = 0.5).orderBy(col("doc_id")).collect()
    self.foreach { row =>
      assert(row.getLong(1) == scale * bkts(
        texts(row.getLong(0).toInt)._2).length)
    }
  }

  test("dsirSelect at one shuffle partition selects what it does at several") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = (0L until 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w${i % 11}"))
      .toDF("doc_id", "text")
    def run() = TextAnalysis.dsirSelect(df, df.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", buckets = 16, keepFrac = 0.25)
      .orderBy(col("doc_id")).collect().toSeq
    val many = run()
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    val one = try run() finally spark.conf.set(key, prev)
    assert(one == many)
    assert(one.count(_.getBoolean(2)) == 10)
  }

  test("dense table sum: out-of-domain codes wrap into the table under ANSI") {
    val ansiKey = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(ansiKey)
    spark.conf.set(ansiKey, "true")
    try {
      val table = Seq(10L, 20L, 30L)
      // a range-backed frame: a local Seq is constant-folded before codegen
      val codes = spark.range(1).select(
        array(lit(0L), lit(2L)).as("good"),
        array(lit(-1L), lit(3L), lit(7L)).as("bad"),
        lit(null).cast("array<bigint>").as("none"))
      val row = codes.select(
        TextAnalysis.denseTableSum(col("good"), table),
        TextAnalysis.denseTableSum(col("bad"), table),
        TextAnalysis.denseTableSum(col("none"), table)).head()
      // -1 → 2, 3 → 0, 7 → 1
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == (40L, 60L, 0L))
      // the unclamped lookup the scores used to make fails on the same
      // codes (-1 is index 0, 3 and 7 are past the end)
      val e = intercept[Exception](codes.select(aggregate(col("bad"), lit(0L),
        (acc, x) => acc + element_at(typedlit(table), (x + lit(1L)).cast("int")))).head())
      assert(e.getMessage.contains("INVALID_INDEX_OF_ZERO"), e.getMessage)
      // still one projection over the codes, no join or exchange
      val plan = codes.select(TextAnalysis.denseTableSum(col("bad"), table))
        .queryExecution.executedPlan
      val nodes = allPlanNodes(plan)
      assert(nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.ProjectExec]) == 1 &&
        !nodes.exists(n => n.nodeName.contains("Exchange") || n.nodeName.contains("Join")),
        plan.toString)
    } finally spark.conf.set(ansiKey, prev)
  }

  test("decontaminateScrub: quoted spans excised, clean majority kept, order preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel"  // 8 tokens
    val docs = Seq(
      (0L, evalText, true),                                        // the eval doc
      (1L, s"intro words here $evalText outro words trail off now", false), // quotes it
      (2L, "totally clean document with its own content here ok", false),
      (3L, evalText, false),                                       // full copy
      (4L, "short doc", false))                                    // < k tokens
      .toDF("doc_id", "text", "ev")
    val out = TextAnalysis.decontaminateScrub(docs, "doc_id", "text",
      isEval = col("ev"), k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1: the 8 quoted tokens scrubbed, intro+outro survive in order
    assert(out(1L)._1 == 16 && out(1L)._2 == 8)
    assert(out(1L)._3 == "intro words here outro words trail off now")
    // doc 2: untouched
    assert(out(2L) == ((9L, 0L, "totally clean document with its own content here ok")))
    // doc 3: fully scrubbed → empty rewrite
    assert(out(3L) == ((8L, 8L, "")))
    // doc 4: too short to window — kept verbatim, zero scrubbed
    assert(out(4L) == ((2L, 0L, "short doc")))
    // eval docs are not in the output
    assert(!out.contains(0L))
  }

  test("blocklistFilter: exact hit counts, case-insensitive, absent words free") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (0L, "clean text with no problems"),
      (1L, "one BAD word"),                 // case-insensitive match
      (2L, "bad bad bad"),                  // occurrences counted, not docs
      (3L, "embedded badness stays fine"),  // token-boundary, not substring
      (4L, "")).toDF("id", "t")
    val got = TextAnalysis.blocklistFilter(df, "id", "t", Seq("bad", "absent"))
      .orderBy(col("id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(0L) == (0L, true))
    assert(got(1L) == (1L, false))
    assert(got(2L) == (3L, false))
    assert(got(3L) == (0L, true), "substring must not match — token gate")
    assert(got(4L) == (0L, true))
  }

  test("lmScore property: random corpora replay the reference bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    val P = graft.functions.HashFunctions.P
    val B = 16
    val word = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val doc = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val gen = for {
      n <- Gen.choose(2, 12)
      texts <- Gen.listOfN(n, doc)
      evals <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield texts.zip(evals).zipWithIndex
      .map { case ((t, e), i) => (i.toLong, t, e) }
    def codes(text: String): Seq[Long] = {
      val hs = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .map(t => t.take(16).foldLeft(0L)((a, c) => (a * 131L + c) % P))
      hs.sliding(2).filter(_.length == 2)
        .map(p => (p(0) % B) * B + (p(0) * 131L + p(1)) % P % B).toSeq
    }
    new graft.PropHelper { override val propRuns = 25 }.forAllG(gen) { rows =>
      val joint = rows.filter(_._3).flatMap(r => codes(r._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val prefix = joint.groupBy(_._1 / B).view.mapValues(_.values.sum).toMap
      def r(c: Long): Long =
        (BigInt(1000000L) * BigInt(joint.getOrElse(c, 0L) + 1) /
          BigInt(prefix.getOrElse(c / B, 0L) + B)).toLong
      val want = rows.map { case (id, t, _) => id -> codes(t).map(r).sum }.toMap
      val df = rows.toDF("id", "t", "ev")
      val got = TextAnalysis.lmScore(df, df.filter(col("ev")), "id", "t",
        buckets = B).collect()
      got.foreach { row =>
        assert(row.getLong(1) == want(row.getLong(0)),
          s"doc ${row.getLong(0)} of $rows")
      }
    }
  }

  test("normalizeDocs: controls stripped, whitespace collapsed, exact audit counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (0L, "\u0001\t  hello \u0002world  \r\n"),  // controls + runs + edges
      (1L, "a  b\tc\nd"),                         // mixed whitespace runs
      (2L, "clean text"),                         // already normal → identity
      (3L, ""),                                   // empty stays empty
      (4L, " \t\r\n "),                           // whitespace-only → empty
      (5L, "x\u007Fy"))                           // DEL becomes a space
    val got = TextAnalysis.normalizeDocs(rows.toDF("id", "t"), "t")
      .orderBy(col("id"))
      .select(col("id"), col("text_norm"), col("chars_before"), col("chars_after"))
      .collect()
    val want = Map(
      0L -> "hello world", 1L -> "a b c d", 2L -> "clean text",
      3L -> "", 4L -> "", 5L -> "x y")
    got.foreach { r =>
      assert(r.getString(1) == want(r.getLong(0)),
        s"id ${r.getLong(0)}: '${r.getString(1)}'")
      assert(r.getLong(2) == rows(r.getLong(0).toInt)._2.length)
      assert(r.getLong(3) == want(r.getLong(0)).length)
    }
    // idempotent: normalizing a normalized doc is the identity
    val twice = TextAnalysis.normalizeDocs(
      got.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("id", "t"), "t")
      .orderBy(col("id")).collect()
    twice.foreach(r => assert(r.getString(1) == r.getString(2)))
  }

  test("lmScore: scores replay the bucketed-conditional contract; filter exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val P = graft.functions.HashFunctions.P
    val B = 16
    val scale = 1000000L
    val texts = Seq(
      (0L, "the cat sat on the mat", "en"),
      (1L, "the cat sat on the mat", "de"),    // same text, not target
      (2L, "the dog sat on the log", "en"),
      (3L, "one", "en"),                       // <2 tokens → score 0, never kept
      (4L, "zz qq xx vv ww uu", "de"),         // transitions unseen in target
      (5L, "", "en"))
    val df = texts.toDF("doc_id", "text", "lang")
    // reference, written against the stated contract
    def codes(text: String): Seq[Long] = {
      val hs = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .map(t => t.take(16).foldLeft(0L)((a, c) => (a * 131L + c) % P))
      hs.sliding(2).filter(_.length == 2)
        .map(p => (p(0) % B) * B + (p(0) * 131L + p(1)) % P % B).toSeq
    }
    val joint = texts.filter(_._3 == "en").flatMap(t => codes(t._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val prefix = joint.groupBy(_._1 / B).view.mapValues(_.values.sum).toMap
    def r(code: Long): Long =
      (BigInt(scale) * BigInt(joint.getOrElse(code, 0L) + 1) /
        BigInt(prefix.getOrElse(code / B, 0L) + B)).toLong
    val want = texts.map { case (id, t, _) => id -> codes(t).map(r).sum }.toMap
    val thr = 15625L
    val got = TextAnalysis.lmScore(df, df.filter(col("lang") === "en"),
      "doc_id", "text", buckets = B, thresholdMicros = thr)
      .orderBy(col("doc_id")).collect()
    got.foreach { row =>
      val (id, score, nb, kept) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getBoolean(3))
      assert(score == want(id), s"doc $id: score $score != ${want(id)}")
      assert(nb == codes(texts(id.toInt)._2).length)
      assert(kept == (nb > 0 && score > thr * nb))
    }
    // target-trained docs beat (per bigram) the unseen-transition doc
    def mean(id: Long) = want(id).toDouble / math.max(1, codes(texts(id.toInt)._2).length)
    assert(mean(0L) > mean(4L))
    // a doc identical to a target doc scores identically regardless of lang
    assert(want(0L) == want(1L))
    // degenerate docs: no bigrams → score 0, kept=false
    assert(want(3L) == 0L && want(5L) == 0L)
    assert(!got.filter(r => r.getLong(0) == 3L || r.getLong(0) == 5L).exists(_.getBoolean(3)))
    // the scoring map is joins-free: no SortMergeJoin/ShuffledHashJoin
    // in the corpus scoring plan (literal-table lookup only)
    val plan = TextAnalysis.lmScore(df, df.filter(col("lang") === "en"),
      "doc_id", "text", buckets = B).queryExecution.executedPlan
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    assert(allPlanNodes(plan).collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j }.isEmpty,
      "lmScore corpus scoring must not join")
  }

  test("bm25TopK: rare terms dominate, tf saturates, absent terms inert, integer-deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),         // no query term
      (2L, "rare common common common"),           // one rare hit
      (3L, "common target common filler extra"),   // one mid hit
      (4L, "target target target target target"),  // saturated tf of mid term
      (5L, "rare target common filler"),           // rare + mid
      (6L, "filler filler filler filler")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(docs, "doc_id", "text", "rare target zzz", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 and 6 carry no query term: absent from the result entirely
    assert(!top.map(_._1).contains(1L) && !top.map(_._1).contains(6L))
    // rare ('rare', df=2) outweighs mid ('target', df=3): the doc with
    // BOTH ranks first; a rare-only doc beats any single-mid-term doc
    assert(top.head._1 == 5L, top.mkString(","))
    val score = top.toMap
    assert(score(2L) > score(3L), s"rare-term doc must outrank mid-term doc: $top")
    // tf saturation: five repeats of 'target' score less than 5x one
    // occurrence (w caps at (k1+1)-scaled) but more than one occurrence
    assert(score(4L) > score(3L) && score(4L) < 5 * score(3L), top.mkString(","))
    // 'zzz' (df=0) never contributes — identical scores without it
    val without = TextAnalysis.bm25TopK(docs, "doc_id", "text", "rare target", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(without.sameElements(top))
    // deterministic under repartitioning (integer arithmetic end to end)
    val again = TextAnalysis.bm25TopK(docs.repartition(5), "doc_id", "text",
      "rare target zzz", k = 6).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.sameElements(top))
  }

  test("hybridRrf: both-branch docs win, single-branch docs carry one contribution, ranks nullable") {
    import spark.implicits._
    // the two branches tokenize differently (BM25: whitespace split;
    // dense hash: [^a-z0-9]+ split) — comma-glued docs are invisible to
    // BM25 but dense-identical to the query, giving guaranteed
    // single-branch rows
    val docs = Seq(
      (1L, "rare rare rare"),                          // lexical only
      (2L, "RARE,ALPHA,BETA,GAMMA,DELTA,EPSILON"),     // dense only
      (3L, "rare alpha beta gamma delta epsilon"),     // both, top of both
      (4L, "alpha beta gamma delta epsilon zeta"),     // both, mid
      (5L, "alpha,beta,gamma,delta,epsilon,zeta"),     // dense only
      (6L, "common filler words here")                 // neither
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hybridRrf(docs, "doc_id", "text",
      "rare alpha beta gamma delta epsilon", kEach = 3, k = 6)
    val rows = out.collect()
    // schema: nullable int ranks, long rrf
    assert(out.schema("r_lex").dataType.typeName == "integer")
    assert(out.schema("rrf").dataType.typeName == "long")
    val byId = rows.map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)), r.getLong(3))).toMap
    // doc 3 hits both branches: two contributions, ranked first overall
    assert(rows.head.getLong(0) == 3L, rows.mkString(","))
    val (l3, d3, rrf3) = byId(3L)
    assert(l3.nonEmpty && d3.nonEmpty)
    // rrf is exactly the sum of the two floored contributions
    val expect3 = 1000000000L / (60 + l3.get.asInstanceOf[Int]) +
      1000000000L / (60 + d3.get.asInstanceOf[Int])
    assert(rrf3 == expect3, s"$rrf3 != $expect3")
    // a doc in only one list has a null rank on the other side and a
    // single contribution
    val singles = rows.filter(r => r.isNullAt(1) ^ r.isNullAt(2))
    assert(singles.nonEmpty)
    singles.foreach { r =>
      val rank = if (r.isNullAt(1)) r.getInt(2) else r.getInt(1)
      assert(r.getLong(3) == 1000000000L / (60 + rank))
    }
    // the dense-only doc is a comma-glued twin the lexical branch
    // cannot see; the lexical-only doc is 'rare' spam the dense branch
    // ranks out at kEach=3
    assert(byId(2L)._1.isEmpty && byId(2L)._2.nonEmpty, byId.toString)
    assert(byId(1L)._1.nonEmpty && byId(1L)._2.isEmpty, byId.toString)
    // deterministic under repartitioning
    val again = TextAnalysis.hybridRrf(docs.repartition(4), "doc_id", "text",
      "rare alpha beta gamma delta epsilon", kEach = 3, k = 6).collect()
    assert(again.map(_.toString).sameElements(rows.map(_.toString)))
  }

  test("phraseSearch: adjacency exact, overlaps counted, repeated-term and 3-term phrases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big table small"),         // one match of "big table"
      (2L, "big small table"),         // terms present but not adjacent
      (3L, "big table big table"),     // two matches
      (4L, "table big"),               // reversed order
      (5L, "a a a"),                   // overlap: "a a" matches twice
      (6L, "x y z w"),                 // 3-term phrase source
      (7L, "")
    ).toDF("doc_id", "text")
    val bt = TextAnalysis.phraseSearch(docs, "doc_id", "text", "big table")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bt == Map(1L -> 1L, 3L -> 2L), bt.toString)
    val aa = TextAnalysis.phraseSearch(docs, "doc_id", "text", "a a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(aa == Map(5L -> 2L), aa.toString)
    val xyz = TextAnalysis.phraseSearch(docs, "doc_id", "text", "y z w")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(xyz == Map(6L -> 1L), xyz.toString)
    // case folding on both sides
    val cf = TextAnalysis.phraseSearch(
      Seq((9L, "Big TABLE")).toDF("doc_id", "text"), "doc_id", "text",
      "BIG table").collect()
    assert(cf.length == 1 && cf(0).getLong(1) == 1L)
    // plan: one hash exchange (the per-doc aggregate), no join — the
    // adjacency check is the shifted-position intersection, never a
    // positional self-join
    val p = TextAnalysis.phraseSearch(docs, "doc_id", "text", "big table")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected one hash exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin") &&
      !p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      "phraseSearch must not join")
  }

  test("mmrDiversify: near-duplicate of the top pick is demoted below a diverse doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // top relevance
      (2L, "alpha beta gamma delta"),        // exact duplicate of 1
      (3L, "alpha epsilon zeta eta"),        // partial overlap, diverse
      (4L, "theta iota kappa lambda")        // irrelevant
    ).toDF("doc_id", "text")
    val out = TextAnalysis.mmrDiversify(docs, "doc_id", "text",
      "alpha beta gamma", nCand = 4, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // step 1 is pure relevance with the doc_id tie-break: doc 1 (its
    // duplicate 2 ties on rel and loses the tie)
    assert(out(0)._2 == 1L, out.mkString(","))
    assert(out(0)._4 == out(0)._3, "first mmr_key must equal rel")
    // step 2: doc 2 has sim=1e6 (floored 999999+) to doc 1, so its key
    // collapses to ~rel−1e6; doc 3's partial overlap keeps a higher key
    assert(out(1)._2 == 3L, out.mkString(","))
    // the duplicate surfaces only after the diverse doc
    assert(out(2)._2 == 2L || out(2)._2 == 4L, out.mkString(","))
    // keys are exactly rel − maxSim: recompute step 2's key by hand
    // (vectors are the same feature hash both sides use)
    val v1 = graft.functions.HashFunctions.featureHash("alpha beta gamma delta", 64)
    // (v1 is the DOC vector; the query is the distinct "alpha beta gamma")
    val v3 = graft.functions.HashFunctions.featureHash("alpha epsilon zeta eta", 64)
    def dot(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    val rel3 = out(1)._3
    val d13 = dot(v3, v1)
    val sim = {
      val m = (d13 * d13 * 1000000) / (dot(v3, v3) * dot(v1, v1))
      (if (d13 >= 0) m else -m).toLong
    }
    assert(out(1)._4 == rel3 - sim, s"${out(1)._4} != $rel3 - $sim")
  }

  test("dense cosine rank key survives high-norm docs without Int64 wrap (ADVICE r14)") {
    import spark.implicits._
    // dot = 1e7 (a ~100k-token doc against a long query): dot²·10⁶ = 10²⁰
    // exceeds Long.MaxValue — the previous all-BIGINT expression wrapped
    // silently in non-ANSI mode while the DuckDB oracle did not. The
    // DECIMAL(38,0) route must match the BigInt reference exactly, for
    // high and low norms, both signs.
    val qNrm = 20000000L
    val df = Seq((1L, 10000000L, 20000000L), (2L, 3L, 5L),
      (3L, -10000000L, 20000000L), (4L, -7L, 11L))
      .toDF("doc_id", "dot", "nrm")
    def ref(dot: Long, nrm: Long): Long = {
      val m = (BigInt(dot) * dot * 1000000) / (BigInt(nrm) * qNrm)
      (if (dot >= 0) m else -m).toLong
    }
    val got = df.withColumn("score", TextAnalysis.cosScore(qNrm))
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (dot, nrm, score) =>
      assert(score == ref(dot, nrm),
        s"dot=$dot nrm=$nrm: got $score want ${ref(dot, nrm)}")
    }
    assert(got(0)._3 == 250000L, "sanity: the high-norm row's exact score")
    // the fast/slow boundary: dots straddling ⌊√(Int64Max/10⁶)⌋ agree
    // with the BigInt reference on BOTH sides (the row-level fast path
    // must be invisible to values)
    val edge = Seq((10L, 3036999L, 7L), (11L, 3037000L, 7L),
      (12L, -3037000L, 7L)).toDF("doc_id", "dot", "nrm")
    edge.withColumn("score", TextAnalysis.cosScore(qNrm))
      .collect().foreach { r =>
        assert(r.getLong(3) == ref(r.getLong(1), r.getLong(2)),
          s"boundary dot=${r.getLong(1)}")
      }
  }

  test("bm25 idf large-N guard: scores provably fit Int64 at N = 2e10 (> 2^31), identity at small N (VERDICT r14)") {
    // small corpora: shift 0 — bit-identical to the unguarded ratio,
    // which is why every committed oracle replays unchanged
    val small = TextAnalysis.bm25Idf(40L, Map("rare" -> 8L, "common" -> 40L),
      Seq("rare", "common", "zzz"))
    assert(small == Seq(
      ("rare", (BigInt(40 - 8 + 1) * 10000 / 9).toLong),
      ("common", (BigInt(1) * 10000 / 41).toLong),
      ("zzz", (BigInt(41) * 10000 / 1).toLong)))
    // 100-TB shape: N = 2·10¹⁰ docs, a 20-term query of rare terms —
    // raw Σidf·22000 ≈ 10¹⁹ would wrap Int64 (silently, in non-ANSI
    // mode); the guard must rescale so the worst-case score fits
    val n = 20000000000L
    val terms = (1 to 20).map(i => s"t$i")
    val dfc = terms.map(t => t -> 3L).toMap
    val guarded = TextAnalysis.bm25Idf(n, dfc, terms)
    val rawIdf = BigInt(n - 3 + 1) * 10000 / 4
    assert(rawIdf * 20 * 22000 > BigInt(Long.MaxValue),
      "precondition: the unguarded sum must overflow for this test to bite")
    assert(guarded.forall(_._2 > 0), "rescale must not zero the idf table")
    val worst = guarded.map(v => BigInt(v._2)).sum * 22000
    assert(worst <= BigInt(Long.MaxValue),
      s"worst-case score $worst still exceeds Int64")
    // the shared shift preserves relative order across mixed df terms
    val mixed = TextAnalysis.bm25Idf(n, Map("rare" -> 2L, "mid" -> 1000000L,
      "common" -> 4000000000L), Seq("rare", "mid", "common"))
    assert(mixed(0)._2 > mixed(1)._2 && mixed(1)._2 > mixed(2)._2)
  }
}
