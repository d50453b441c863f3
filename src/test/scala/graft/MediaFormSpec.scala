package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.forms.FormDetector
import graft.gen.PageGen
import graft.multimodal.MediaOps

/** Form detection and multimodal plumbing. */
class MediaFormSpec extends AnyFunSuite {

  lazy val spark = graft.job.GraftSession.local("4")

  test("form detector: planted forms found exactly, no false positives") {
    var tp = 0; var fp = 0; var fn = 0; var forms = 0
    (0 until 600).foreach { i =>
      val g = PageGen.genRow(PageGen.DefaultSeed, i.toLong)
      if (g.kind == "html") {
        val r = FormDetector.detectHtml(g.page.html)
        if (g.isForm) {
          forms += 1
          if (r.isForm) tp += 1 else fn += 1
          assert(r.nFields >= 5, s"row $i: only ${r.nFields} fields")
          assert(r.nCheckboxes == 2)
          assert(r.fields.exists(_.fieldType == "name"))
          assert(r.fields.exists(_.fieldType == "amount"))
          // form TYPE is keyword-based over the whole page (nav links,
          // planted entity sentences add noise) — any non-"none" type is
          // acceptable; the structural detections above are the contract
          assert(r.formType != "none")
        } else if (r.isForm) fp += 1
      }
    }
    assert(forms > 10, s"too few planted forms: $forms")
    assert(tp == forms && fp == 0 && fn == 0, s"tp=$tp fp=$fp fn=$fn of $forms")
  }

  test("form detector: field typing and checkbox states") {
    val r = FormDetector.detect(Array(
      "Please fill the required fields",
      "Full Name: Jane Doe",
      "Date: 2024-01-01",
      "Email: j@x.org",
      "Total Amount: $5.00",
      "Account Number: 12345678",
      "[x] agreed", "[ ] newsletter",
      "Signature: ____"))
    assert(r.isForm)
    assert(r.nCheckboxes == 2 && r.nChecked == 1)
    assert(r.fields.map(_.fieldType).toSet ==
      Set("name", "date", "email", "amount", "account", "signature"))
  }

  test("form detection never throws on junk/pdf payloads") {
    val junk = FormDetector.detectHtml(Array[Byte](0x7f, 1, 2))
    assert(!junk.isForm)
  }

  test("media: header codec roundtrip and totality") {
    val img = MediaOps.encodeImage(640, 480, 3, Array.fill(100)(7.toByte))
    val m = MediaOps.decodeMeta(img)
    assert(m.kind == "image" && m.width == 640 && m.height == 480 && m.channels == 3 && m.ok)
    val aud = MediaOps.encodeAudio(16000, 4096, Array.fill(64)(1.toByte))
    val a = MediaOps.decodeMeta(aud)
    assert(a.kind == "audio" && a.sampleRate == 16000 && a.nSamples == 4096)
    assert(!MediaOps.decodeMeta(Array[Byte](1, 2, 3)).ok)
    assert(!MediaOps.decodeMeta(null).ok)
  }

  test("media: resize keeps the container contract") {
    val img = MediaOps.encodeImage(640, 480, 3, Array.tabulate(200)(_.toByte))
    val half = MediaOps.resizeHalf(img)
    val m = MediaOps.decodeMeta(half)
    assert(m.width == 320 && m.height == 240 && m.ok)
  }

  test("media: REAL BMP nearest-neighbor halving — exact sampled bytes, stride-correct") {
    // 6x4 RGB gradient with a non-trivial stride (6*3=18 → stride 20)
    val w = 6; val h = 4; val ch = 3
    val stride = ((w * ch + 3) / 4) * 4
    val px = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
      px(y * stride + x * ch + c) = (y * 40 + x * 5 + c).toByte
    val bmp = MediaOps.encodeBmp(w, h, ch, px)
    val half = MediaOps.resizeHalf(bmp)
    val m = MediaOps.decodeBmp(half)
    assert(m.ok && m.width == 3 && m.height == 2 && m.channels == 3)
    // nearest-neighbor: dst(y,x) == src(2y,2x), byte-for-byte
    val dstStride = ((3 * ch + 3) / 4) * 4
    for (y <- 0 until 2; x <- 0 until 3; c <- 0 until ch) {
      val got = half(m.payloadOff + y * dstStride + x * ch + c)
      val want = px((y * 2) * stride + (x * 2) * ch + c)
      assert(got == want, s"pixel ($y,$x,$c): $got vs $want")
    }
    // an 8-bit (1-channel) image halves too — the PageRaster format
    val gray = graft.pdf.PageRaster.rasterize("hello world gray page")
    val ghalf = MediaOps.resizeHalf(gray)
    val gm = MediaOps.decodeBmp(ghalf)
    assert(gm.ok && gm.width == graft.pdf.PageRaster.Width / 2 &&
      gm.height == graft.pdf.PageRaster.Height / 2 && gm.channels == 1)
    // truncated payload: resize refuses and returns the input unchanged
    val trunc = java.util.Arrays.copyOf(bmp, 60)
    assert(MediaOps.resizeHalf(trunc).sameElements(trunc))
    // a crafted header claiming ~2^31 width must take the leave-as-is
    // path, not overflow the stride math and throw
    val crafted = bmp.clone()
    crafted(18) = 0xFC.toByte; crafted(19) = 0xFF.toByte
    crafted(20) = 0xFF.toByte; crafted(21) = 0x7F.toByte // width = 0x7FFFFFFC
    assert(MediaOps.decodeBmp(crafted).ok) // header parses...
    assert(MediaOps.resizeHalf(crafted).sameElements(crafted)) // ...resize refuses
  }

  test("media: top-down BMP (negative height) resizes to the SAME content as its bottom-up twin") {
    /** (bottom-up, top-down) encodings of one w×h image. */
    def twins(w: Int, h: Int, ch: Int)(contentRow: (Int, Int) => Array[Byte]) = {
      val stride = ((w * ch + 3) / 4) * 4
      // bottom-up stores content rows h-1..0; top-down stores 0..h-1
      val bu = MediaOps.encodeBmp(w, h, ch,
        (h - 1 to 0 by -1).flatMap(contentRow(_, stride)).toArray)
      val td = MediaOps.encodeBmp(w, h, ch,
        (0 until h).flatMap(contentRow(_, stride)).toArray)
      // patch the header height to -h (little-endian at offset 22)
      val neg = -h
      for (i <- 0 until 4) td(22 + i) = ((neg >> (8 * i)) & 0xff).toByte
      assert(MediaOps.decodeBmp(td).ok && MediaOps.decodeBmp(td).height == h)
      (bu, td)
    }
    // round-4 ADVICE #5: the crafted top-down file used to come back
    // vertically flipped; now both orientations of one image resize to
    // byte-identical (bottom-up) output
    val (bu, td) = twins(6, 4, 3)((r, stride) => Array.tabulate(stride)(i => (r * 50 + i).toByte))
    assert(MediaOps.resizeHalf(bu).sameElements(MediaOps.resizeHalf(td)))
    // odd height: both orientations sample content rows h-1, h-3, …
    // (here 4 and 2, filled 40 and 20; output rows are stored bottom-up)
    val (bu5, td5) = twins(4, 5, 1)((r, stride) => Array.fill(stride)((10 * r).toByte))
    def rows(bmp: Array[Byte]) = bmp.drop(54).grouped(4).map(_.head.toInt).toSeq
    assert(rows(MediaOps.resizeHalf(bu5)) == Seq(40, 20))
    assert(rows(MediaOps.resizeHalf(td5)) == Seq(40, 20))
  }

  test("media: REAL BMP codec — encode/decode roundtrip, truncation is total") {
    val bmp = MediaOps.encodeBmp(17, 9, 3, Array.tabulate(800)(_.toByte))
    val m = MediaOps.decodeBmp(bmp)
    assert(m.ok && m.container == "bmp" && m.kind == "image")
    assert(m.width == 17 && m.height == 9 && m.channels == 3)
    assert(m.payloadOff == 54)
    // row stride padded to 4 bytes, as the format requires
    assert(bmp.length == 54 + ((17 * 3 + 3) / 4) * 4 * 9)
    // dispatch goes through decodeMeta too
    assert(MediaOps.decodeMeta(bmp).width == 17)
    assert(!MediaOps.decodeBmp(java.util.Arrays.copyOf(bmp, 30)).ok)
    assert(!MediaOps.decodeBmp("BMgarbage".getBytes).ok)
  }

  test("media: REAL WAV codec — roundtrip, chunk walking past a LIST chunk") {
    val wav = MediaOps.encodeWav(22050, 2, 16, Array.tabulate(400)(_.toByte))
    val m = MediaOps.decodeWav(wav)
    assert(m.ok && m.container == "wav" && m.kind == "audio")
    assert(m.sampleRate == 22050 && m.channels == 2)
    assert(m.nSamples == 400 / (2 * 2)) // blockAlign = 4
    assert(m.payloadOff == 44)
    // a real-world layout: LIST chunk between fmt and data — the
    // decoder must walk chunks, not assume canonical offsets
    val out = new java.io.ByteArrayOutputStream()
    out.write(wav, 0, 36) // RIFF..fmt chunk end
    out.write("LIST".getBytes); out.write(Array[Byte](6, 0, 0, 0)) // size 6 LE
    out.write("INFOab".getBytes)
    out.write(wav, 36, wav.length - 36) // data chunk
    val shifted = out.toByteArray
    val s = MediaOps.decodeWav(shifted)
    assert(s.ok && s.sampleRate == 22050 && s.nSamples == 100 && s.payloadOff == 44 + 14)
    assert(!MediaOps.decodeWav(java.util.Arrays.copyOf(wav, 40)).ok)
  }

  test("media: batched feature extraction over spark") {
    val media = MediaOps.genMedia(spark, 500)
    val feats = MediaOps.withFeatures(media)
    assert(feats.count() == 500)
    val kinds = feats.groupBy("kind", "decode_ok").count().collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(kinds.getOrElse(("image", true), 0L) > 200)
    assert(kinds.getOrElse(("audio", true), 0L) > 50)
    assert(kinds.getOrElse(("unknown", false), 0L) > 0) // corrupt rows quarantined
    // embeddings are unit-mass histograms
    val s = feats.filter(col("decode_ok"))
      .select(graft.ops.Similarity.cosine(col("embedding"), col("embedding")).as("self"))
      .agg(min("self"), max("self")).first()
    assert(math.abs(s.getDouble(0) - 1.0) < 1e-9 && math.abs(s.getDouble(1) - 1.0) < 1e-9)
  }

  test("blobs: planted form surface recovered from pixels alone") {
    import graft.pdf.{Blobs, PageRaster}
    // idx=5, page 1: (5+1)%3 = 0 boxes, (5+1)%4 = 2 checkboxes,
    // checked iff (5+k)%2==0 → k=1 only → 1 checked
    val text = "ab cd\nx  yz\n\n   q"
    val blobs = Blobs.detect(PageRaster.rasterizeForm(text, 5L, 1)).toSeq
    val words = blobs.filter(_.kind == "word")
    val boxes = blobs.filter(_.kind == "box")
    val cbs = blobs.filter(_.kind == "checkbox")
    val expected = PageRaster.expectedWordBoxes(text).toSeq
    assert(words.size == expected.size && expected.size == 5)
    assert(words.map(b => (b.y, b.x, b.w, b.h)).sorted ==
      expected.map { case (x, y, w, h, _) => (y, x, w, h) }.sorted)
    // word ink counts survive dilation (measured on original ink)
    assert(words.map(_.inkPx).sum == expected.map(_._5).sum)
    assert(boxes.isEmpty && cbs.size == 2 && cbs.count(_.checked) == 1)
    // idx=4, page 2: (4+2)%3 = 0... use idx=3, page 1: boxes (3+1)%3=1,
    // checkboxes (3+1)%4=0 — hollow box classified, never "checked"
    val b2 = Blobs.detect(PageRaster.rasterizeForm("", 3L, 1)).toSeq
    assert(b2.count(_.kind == "box") == 1 && b2.forall(!_.checked))
    val box = b2.find(_.kind == "box").get
    assert((box.x, box.y, box.w, box.h) ==
      (PageRaster.BoxX0, PageRaster.BoxY, PageRaster.BoxW, PageRaster.BoxH))
    // hollow rect ink = perimeter
    assert(box.inkPx == 2 * PageRaster.BoxW + 2 * (PageRaster.BoxH - 2))
    // digest is order-insensitive and hex-stable
    assert(Blobs.digest(Seq((2, 1, 3, 5), (1, 9, 3, 5))) ==
      Blobs.digest(Seq((1, 9, 3, 5), (2, 1, 3, 5))))
  }

  test("media: frame sampling fan-out") {
    val img = MediaOps.encodeImage(8, 8, 1, Array.tabulate(1000)(_.toByte))
    val frames = MediaOps.sampleFrames(img, frameBytes = 100, stride = 2)
    assert(frames.map(_._1) == Seq(0, 2, 4, 6, 8))
    assert(frames.forall(_._2.length == 100))
    import spark.implicits._
    val df = Seq((1L, img)).toDF("media_id", "bytes")
    assert(MediaOps.explodeFrames(df, 100, 2).count() == 5)
  }
}
