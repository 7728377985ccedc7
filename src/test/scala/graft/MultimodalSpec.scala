package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Multimodal plumbing: binaryFile ingest, real ImageIO decode,
  * partition-wise feature extraction, frame-offset explode. */
class MultimodalSpec extends AnyFunSuite with LocalSpark {

  /** REAL encoded image bytes (deterministic pixels) via the JDK's own
    * encoders — what a crawler would actually land in the binary column. */
  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** tiny single-object PDF with one plain content stream. */
  private def pdfBytes(text: String): Array[Byte] = {
    val stream = s"BT /F1 12 Tf 72 720 Td ($text) Tj ET"
    (s"%PDF-1.4\n1 0 obj << /Length ${stream.length} >>\nstream\n" + stream +
      "\nendstream\nendobj\n%%EOF").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private lazy val assetDir: String = {
    val dir = Files.createTempDirectory("graft-mm")
    Files.write(dir.resolve("a.png"), imageBytes("png", 640, 480))
    Files.write(dir.resolve("b.png"), imageBytes("png", 32, 32))
    Files.write(dir.resolve("c.jpg"), imageBytes("jpg", 20, 10))
    Files.write(dir.resolve("page.html"), "<html><body>x</body></html>".getBytes)
    Files.write(dir.resolve("doc.pdf"), pdfBytes("Bao cao thuy van"))
    dir.toString
  }

  test("readAssets: binaryFile ingest with modality dispatch") {
    val assets = Multimodal.readAssets(spark, assetDir)
    assert(assets.schema.fieldNames.toSeq == Seq("asset_id", "modality", "content", "meta"))
    val byModality = assets.groupBy("modality").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byModality == Map("image" -> 3L, "html" -> 1L, "pdf" -> 1L))
  }

  test("extractText dispatches html and pdf payloads to their extractors") {
    val rows = Multimodal.extractText(Multimodal.readAssets(spark, assetDir))
      .filter(col("modality").isin("html", "pdf"))
      .select(col("modality"), col("text"), col("extract_status")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("html") == ("x", "ok"))
    assert(rows("pdf") == ("Bao cao thuy van", "ok"))
  }

  test("extractText quarantines non-empty payloads that yield no text (PDF scope boundary)") {
    import spark.implicits._
    // a PDF-tagged payload with no recoverable content stream — stands in
    // for the out-of-scope corpus (CID/Type0 fonts, encryption, ObjStm)
    val assets = Seq(
      (1L, "pdf", "%PDF-1.4\nopaque-cid-font-body\n%%EOF".getBytes),
      (2L, "pdf", pdfBytes("readable")),
      (3L, "binary", Array.empty[Byte]))
      .toDF("asset_id", "modality", "content")
    val st = Multimodal.extractText(assets)
      .select(col("asset_id"), col("extract_status")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "quarantined", 2L -> "ok", 3L -> "empty"),
      s"extract-or-quarantine statuses wrong: $st")
  }

  test("extractText with a password column unlocks protected PDFs; without it they quarantine") {
    import spark.implicits._
    val locked = PdfFixtures.encryptedPdfV5("credentialed text", r = 6,
      userPw = "site-password")
    val open = pdfBytes("open text")
    val assets = Seq(
      (1L, "pdf", locked, "site-password"),
      (2L, "pdf", locked, null.asInstanceOf[String]), // no password known
      (3L, "pdf", open, null.asInstanceOf[String]))
      .toDF("asset_id", "modality", "content", "pdf_password")
    val out = Multimodal.extractText(assets, Some("pdf_password"))
      .select(col("asset_id"), col("text"), col("extract_status")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L) == (("credentialed text", "ok")), out(1L))
    assert(out(2L)._2 == "password_required", out(2L))
    assert(out(3L) == (("open text", "ok")), out(3L))
    // the no-password overload still treats every doc as empty-password;
    // locked docs count as password_required, not generic quarantine
    val plain = Multimodal.extractText(assets.drop("pdf_password"))
      .select(col("asset_id"), col("extract_status")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plain == Map(1L -> "password_required", 2L -> "password_required", 3L -> "ok"), plain)
  }

  test("extract_status distinguishes no_tounicode_decoded from ok and quarantined") {
    import spark.implicits._
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    // minimal Identity-H PDF whose Type0 font has NO ToUnicode but an
    // embedded TrueType whose cmap maps 'A'..'Z' -> gids 1..26
    def be16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val delta = (1 - 0x41) & 0xffff
    val sub = be16(4) ++ be16(32) ++ be16(0) ++ be16(4) ++ be16(0) ++ be16(0) ++
      be16(0) ++ be16(0x5A) ++ be16(0xFFFF) ++ be16(0) ++ be16(0x41) ++
      be16(0xFFFF) ++ be16(delta) ++ be16(1) ++ be16(0) ++ be16(0)
    val cmap = be16(0) ++ be16(1) ++ be16(3) ++ be16(1) ++ be32(12) ++ sub
    val ttf = be32(0x00010000L) ++ be16(1) ++ be16(16) ++ be16(0) ++ be16(0) ++
      "cmap".getBytes(iso) ++ be32(0) ++ be32(28) ++ be32(cmap.length.toLong) ++ cmap
    def streamObj(n: Int, data: Array[Byte]) =
      (s"$n 0 obj << /Length ${data.length} >>\nstream\n").getBytes(iso) ++
        data ++ "\nendstream\nendobj\n".getBytes(iso)
    // content shows CIDs 3,1,2 -> "CAB"
    val noToUni = "%PDF-1.4\n".getBytes(iso) ++
      ("1 0 obj << /Type /Page /Resources << /Font << /F1 2 0 R >> >> /Contents 5 0 R >>\nendobj\n" +
        "2 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H /DescendantFonts [4 0 R] >>\nendobj\n" +
        "4 0 obj << /Subtype /CIDFontType2 /FontDescriptor 6 0 R >>\nendobj\n" +
        "6 0 obj << /Type /FontDescriptor /FontFile2 7 0 R >>\nendobj\n").getBytes(iso) ++
      streamObj(5, "BT /F1 12 Tf <000300010002> Tj ET".getBytes(iso)) ++
      streamObj(7, ttf) ++ "%%EOF".getBytes(iso)
    val rows = Multimodal.extractText(Seq(
        (1L, "pdf", noToUni),
        (2L, "pdf", pdfBytes("plain tounicode-free latin")),
        (3L, "pdf", "%PDF-1.4\nopaque\n%%EOF".getBytes))
      .toDF("asset_id", "modality", "content"))
      .select(col("asset_id"), col("text"), col("extract_status")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows(1L) == ("CAB", "no_tounicode_decoded"), rows(1L))
    assert(rows(2L)._2 == "ok", rows(2L))
    assert(rows(3L)._2 == "quarantined", rows(3L))
  }

  test("decodeImage decodes real PNG and JPEG bytes with correct dimensions") {
    assert(Multimodal.decodeImage(imageBytes("png", 640, 480)) == ("png", 640, 480))
    assert(Multimodal.decodeImage(imageBytes("jpg", 31, 17)) == ("jpeg", 31, 17))
    assert(Multimodal.decodeImage("not an image at all".getBytes) == ("unknown", 0, 0))
    assert(Multimodal.decodeImage(null) == ("empty", 0, 0))
    // claimed-but-truncated: JPEG magic with no SOF header → (jpeg, 0, 0)
    assert(Multimodal.decodeImage(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)) == ("jpeg", 0, 0))
  }

  test("extractFeatures: partition-wise batched, fixed-dim, deterministic") {
    val assets = Multimodal.readAssets(spark, assetDir).repartition(3)
    val feats = Multimodal.extractFeatures(spark, assets, dim = 16, batchSize = 2).collect()
    assert(feats.length == 5)
    assert(feats.forall(_.feature.length == 16))
    val png = feats.filter(_.format == "png")
    assert(png.map(f => (f.width, f.height)).toSet == Set((640, 480), (32, 32)))
    val jpeg = feats.filter(_.format == "jpeg")
    assert(jpeg.map(f => (f.width, f.height)).toSet == Set((20, 10)))
    // determinism: rerun produces identical features
    val again = Multimodal.extractFeatures(spark, assets, dim = 16, batchSize = 2).collect()
    assert(feats.sortBy(_.asset_id).zip(again.sortBy(_.asset_id))
      .forall { case (a, b) => a.feature.sameElements(b.feature) })
  }

  test("imageDescriptor: resize/re-encode invariant, distinct content diverges") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val original = imageBytes("png", 640, 480)
    val descO = Multimodal.imageDescriptor(original, 48).get
    assert(descO.length == 48 && descO.forall(v => v >= 0f && v <= 1f))
    // the SAME image through a bilinear resize + PNG re-encode must map to
    // a near-identical descriptor — the near-dup-via-features contract
    val resized = Multimodal.resizeImage(original, 320, 240).get
    val descR = Multimodal.imageDescriptor(resized, 48).get
    assert(cos(descO, descR) > 0.995, s"resize broke invariance: ${cos(descO, descR)}")
    // jpeg re-encode of the same pixels stays near-identical too
    val descJ = Multimodal.imageDescriptor(imageBytes("jpg", 640, 480), 48).get
    assert(cos(descO, descJ) > 0.99, s"jpeg re-encode: ${cos(descO, descJ)}")
    // DISTINCT content (vertical vs horizontal gradient) scores clearly
    // lower than any same-content variant
    val other = {
      val img = new java.awt.image.BufferedImage(640, 480, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 640; y <- 0 until 480)
        img.setRGB(x, y, ((y * 255 / 479) << 16) | ((255 - x * 255 / 639) << 8))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos); baos.toByteArray
    }
    val descX = Multimodal.imageDescriptor(other, 48).get
    assert(cos(descO, descX) < 0.97, s"distinct images too similar: ${cos(descO, descX)}")
    assert(cos(descO, descX) < cos(descO, descR) - 0.02)
    // undecodable bytes have no descriptor (extractFeatures falls back)
    assert(Multimodal.imageDescriptor("junk".getBytes, 48).isEmpty)
    assert(Multimodal.imageDescriptor(null, 48).isEmpty)
    // transparency mattes to white like resizeImage: a fully transparent
    // png reads as an all-white (all-ones) descriptor
    val argb = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    assert(Multimodal.imageDescriptor(argb, 48).get.forall(v => math.abs(v - 1f) < 1e-6))
  }

  test("resizeImage produces a real decodable PNG at the target dimensions") {
    import spark.implicits._
    val resized = Multimodal.resizeImage(imageBytes("png", 640, 480), 64, 48)
    assert(resized.isDefined)
    assert(Multimodal.decodeImage(resized.get) == ("png", 64, 48))
    // jpeg input resizes too; garbage and degenerate targets return None
    val fromJpg = Multimodal.resizeImage(imageBytes("jpg", 31, 17), 8, 8)
    assert(fromJpg.isDefined && Multimodal.decodeImage(fromJpg.get) == ("png", 8, 8))
    assert(Multimodal.resizeImage("junk".getBytes, 8, 8).isEmpty)
    assert(Multimodal.resizeImage(imageBytes("png", 10, 10), 0, 8).isEmpty)
    assert(Multimodal.resizeImage(null, 8, 8).isEmpty)
    // transparency flattens onto WHITE, not the zero-init black matte
    val argb = {
      val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out) // fully transparent
      out.toByteArray
    }
    val flat = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.resizeImage(argb, 4, 4).get))
    assert((flat.getRGB(2, 2) & 0xffffff) == 0xffffff, "transparent pixels must matte to white")
    // distributed form: NULL column for undecodable content
    val df = Seq((1L, imageBytes("png", 20, 20)), (2L, "nope".getBytes))
      .toDF("asset_id", "content")
    val rows = Multimodal.resizeAssets(spark, df, 5, 5).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(Multimodal.decodeImage(rows(1L).getAs[Array[Byte]](1)) == ("png", 5, 5))
    assert(rows(2L).isNullAt(1))
  }

  /** DISTINCT deterministic images: per-block random colors from distinct
    * seeds (two different random color layouts land near the all-positive-
    * quadrant background cosine ~0.75, far under the 0.98 threshold). */
  private def patterned(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(320, 240, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 320; y <- 0 until 240) {
      val bx = x / 80; val by = y / 60 // 4x4 block grid = descriptor cells
      val h = (seed * 1000003 + bx * 8191 + by * 131071) * 2654435761L
      img.setRGB(x, y, ((h >>> 24) & 0xffffff).toInt)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
  }

  test("imageNearDupPairs: copies pair with originals through the LSH path, distinct images don't") {
    import spark.implicits._
    val originals = (0 until 10).map(i => (i.toLong, "image", patterned(i)))
    // near-dup variants: bilinear resize + PNG re-encode of 0..2, JPEG
    // re-encode of 3 — the transformations a crawler actually sees
    val copies = (0 until 3).map(i =>
      (100L + i, "image", Multimodal.resizeImage(patterned(i), 160, 120).get)) :+ {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(patterned(3)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      (103L, "image", out.toByteArray)
    }
    // an undecodable payload must be excluded, not crash the path
    val junk = Seq((999L, "image", "not an image".getBytes))
    val assets = (originals ++ copies ++ junk)
      .toDF("asset_id", "modality", "content")
    val pairs = Multimodal.imageNearDupPairs(spark, assets).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 4).map(i => (i.toLong, 100L + i)).toSet
    assert(pairs == expected,
      s"LSH image near-dup: got $pairs, expected $expected")
  }

  test("descriptorDrop feeds the standing IVF index: incremental multimodal near-dup") {
    import graft.streaming.EmbeddingsStream
    import spark.implicits._
    val src = Files.createTempDirectory("graft-mmivf-src").toString
    val idx = Files.createTempDirectory("graft-mmivf-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-mmivf-ckpt").toString
    // day 1: 8 distinct crawled images + one undecodable payload
    val day1 = ((0 until 8).map(i => (i.toLong, "image", patterned(i))) :+
      (999L, "image", "not an image".getBytes))
      .toDF("asset_id", "modality", "content")
    val drop1 = Multimodal.descriptorDrop(spark, day1)
    // labels separate perceptual descriptors from the byte-histogram fallback
    val labels = drop1.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert((0 until 8).forall(i => labels(i.toLong) == 1) && labels(999L) == 0)
    // centroids: day-1 descriptors of the first 4 images (faiss-style
    // offline train); the index partitions by nearest centroid
    val cents = drop1.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    drop1.write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    // day 2: resized re-encodes of images 0..2 arrive — appended to the
    // standing index, no rebuild
    val day2 = (0 until 3).map(i =>
        (100L + i, "image", Multimodal.resizeImage(patterned(i), 160, 120).get))
      .toDF("asset_id", "modality", "content")
    val drop2 = Multimodal.descriptorDrop(spark, day2)
    drop2.write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    // retrieval over the standing index finds each copy's original at
    // near-dup cosine, through DPP-pruned partition scans
    val queries = drop2.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val hits = EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 1, nprobe = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0 until 3).foreach { i =>
      val (neighbor, cosine) = hits(100L + i)
      assert(neighbor == i.toLong && cosine > 0.98,
        s"copy ${100 + i}: expected original $i at >0.98, got $neighbor at $cosine")
    }
    cents.unpersist()
  }

  test("decodeWav demuxes a real RIFF/PCM16 header; RMS windows track signal energy") {
    // synthesize a canonical 1-second 440 Hz sine, 16-bit mono @ 8 kHz,
    // with a LIST chunk BEFORE data to exercise the chunk walk
    def wav(rate: Int, channels: Int, frames: Int, amp: Double): Array[Byte] = {
      val dataLen = frames * channels * 2
      val listBody = "INFOtest".getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(44 + 8 + listBody.length + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + 8 + listBody.length + dataLen)
      bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(channels.toShort); bb.putInt(rate)
      bb.putInt(rate * channels * 2); bb.putShort((channels * 2).toShort); bb.putShort(16)
      bb.put("LIST".getBytes); bb.putInt(listBody.length); bb.put(listBody)
      bb.put("data".getBytes); bb.putInt(dataLen)
      for (i <- 0 until frames; _ <- 0 until channels)
        bb.putShort((amp * 32767 * math.sin(2 * math.Pi * 440 * i / rate)).toShort)
      bb.array()
    }
    val mono = wav(8000, 1, 8000, 0.5)
    val m = Multimodal.decodeWav(mono).get
    assert(m == Multimodal.WavMeta(8000, 1, 16, 8000L, 1000L))
    val rms = Multimodal.wavRmsWindows(mono, windowFrames = 1024)
    assert(rms.length == 8) // ceil(8000/1024)
    // sine RMS = amp/sqrt(2) ~= 0.3536 in every full window
    rms.take(7).foreach(r => assert(math.abs(r - 0.5 / math.sqrt(2)) < 0.01, r.toString))
    // stereo frames count once per frame, not per sample
    val stereo = wav(16000, 2, 1600, 0.25)
    val s = Multimodal.decodeWav(stereo).get
    assert(s.channels == 2 && s.nFrames == 1600L && s.durationMs == 100L)
    // non-audio bytes and truncated data are rejected or clamped, not thrown
    assert(Multimodal.decodeWav("not a wav at all".getBytes).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
    // 12 RIFF + 24 fmt + 16 LIST + 8 data-header = 60, so taking 160
    // bytes leaves 100 PCM bytes = 50 frames
    val t = Multimodal.decodeWav(mono.take(160))
    assert(t.exists(_.nFrames == 50L), s"truncated data should clamp frames: $t")
  }

  test("decodeWav/wavRmsWindows never throw on arbitrary or mutated bytes") {
    import org.scalacheck.{Gen, Prop}
    // random bytes, truncations of a valid header, and RIFF-prefixed
    // garbage (declared sizes lying about the buffer) must all return
    // cleanly — a binary parser on a 100 TB asset lake sees every one
    val valid = {
      val bb = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(52); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000)
      bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(8)
      bb.putLong(0x1234567890abcdefL)
      bb.array()
    }
    val gens = Gen.oneOf(
      Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)),
      Gen.choose(0, valid.length).map(valid.take),
      Gen.zip(Gen.choose(0, valid.length - 1), Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map { case (i, b) => val m = valid.clone(); m(i) = b; m })
    val prop = Prop.forAll(gens) { bytes =>
      Multimodal.decodeWav(bytes) // Option or None, never a throw
      Multimodal.wavRmsWindows(bytes).length >= 0
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("extractAudioFeatures: distributed WAV demux with NULLs for non-audio") {
    import spark.implicits._
    def wavBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + 200).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + 200); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(1000)
      bb.putInt(2000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(200)
      for (_ <- 0 until 100) bb.putShort(16384)
      bb.array()
    }
    val assets = Seq((1L, wavBytes), (2L, "plain text".getBytes))
      .toDF("asset_id", "content")
    val feats = Multimodal.extractAudioFeatures(spark, assets, windowFrames = 50)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(1) == 1000 && feats(1L).getLong(4) == 100L)
    assert(feats(1L).getSeq[Float](6).length == 2)
    assert(feats(1L).getSeq[Float](6).forall(v => math.abs(v - 0.5) < 0.01))
    assert(feats(2L).isNullAt(1) && feats(2L).getSeq[Float](6).isEmpty)
  }

  // ---- MP4 / MP3 container demux fixtures (byte-exact, spec-built) ----

  private def be32a(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def boxb(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32a(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
  }

  /** Minimal well-formed MP4: ftyp + mdat(3 samples in 2 chunks) + moov
    * with one avc1 video track; every offset in stco computed against
    * the real fixture layout, so the sample table is checkable
    * byte-exactly. Pass `codec`/`samples` for a single-chunk track with
    * real sample payloads (e.g. MJPEG: each sample a complete JPEG). */
  private def mp4Bytes(codec: String = "avc1",
                       samples: Option[Seq[Array[Byte]]] = None): Array[Byte] = {
    val ftyp = boxb("ftyp", "isom".getBytes, be32a(0x200), "isom".getBytes)
    val mdatPayload = samples.map(_.flatten.toArray)
      .getOrElse(Array.tabulate(23)(i => (i + 1).toByte)) // 5 + 7 + 11
    val mdat = boxb("mdat", mdatPayload)
    val mdatOff = ftyp.length + 8L // first sample's absolute offset
    val mvhd = boxb("mvhd",
      be32a(0), be32a(0), be32a(0), be32a(1000), be32a(2000), // vf c m timescale dur
      new Array[Byte](80))
    val tkhd = boxb("tkhd",
      be32a(0), be32a(0), be32a(0), be32a(1), be32a(0), be32a(0), // vf c m id res dur
      new Array[Byte](8), new Array[Byte](8), // res(8) layer/alt/vol/res(8)
      new Array[Byte](36),                    // matrix
      be32a(320L << 16), be32a(240L << 16))   // 16.16 width/height
    val mdhd = boxb("mdhd",
      be32a(0), be32a(0), be32a(0), be32a(90000), be32a(180000), be32a(0))
    val hdlr = boxb("hdlr", be32a(0), be32a(0), "vide".getBytes,
      new Array[Byte](13))
    val stsd = boxb("stsd", be32a(0), be32a(1),
      be32a(16), codec.getBytes, new Array[Byte](8))
    val stsz = samples match {
      case Some(ss) => boxb("stsz", be32a(0), be32a(0), be32a(ss.length.toLong),
        ss.map(s => be32a(s.length.toLong)).flatten.toArray)
      case None => boxb("stsz", be32a(0), be32a(0), be32a(3),
        be32a(5), be32a(7), be32a(11))
    }
    val stsc = samples match {
      case Some(ss) => boxb("stsc", be32a(0), be32a(1),
        be32a(1), be32a(ss.length.toLong), be32a(1)) // one chunk, all samples
      case None => boxb("stsc", be32a(0), be32a(2),
        be32a(1), be32a(2), be32a(1),  // chunk 1: 2 samples
        be32a(2), be32a(1), be32a(1))  // chunk 2 on: 1 sample
    }
    val stco = samples match {
      case Some(_) => boxb("stco", be32a(0), be32a(1), be32a(mdatOff))
      case None => boxb("stco", be32a(0), be32a(2),
        be32a(mdatOff), be32a(mdatOff + 12)) // chunk 2 after samples 5+7
    }
    val stbl = boxb("stbl", stsd, stsz, stsc, stco)
    val minf = boxb("minf", stbl)
    val mdia = boxb("mdia", mdhd, hdlr, minf)
    val trak = boxb("trak", tkhd, mdia)
    val moov = boxb("moov", mvhd, trak)
    ftyp ++ mdat ++ moov
  }

  /** n MPEG1 Layer-III frames (128 kbps, 44.1 kHz, no padding; 417 bytes
    * each), optionally behind an ID3v2 tag. */
  private def mp3Bytes(nFrames: Int, id3: Boolean = false,
                       truncateLast: Int = 0): Array[Byte] = {
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00) ++
      new Array[Byte](413)
    val tag = if (id3)
      "ID3".getBytes ++ Array[Byte](4, 0, 0) ++
        Array[Byte](0, 0, 0, 20) ++ new Array[Byte](20) // syncsafe size 20
    else Array.empty[Byte]
    val body = Array.fill(nFrames)(frame).flatten
    tag ++ body.dropRight(truncateLast)
  }

  test("demuxMp4 reads brand, durations, codec and dimensions from the box tree") {
    val m = Multimodal.demuxMp4(mp4Bytes()).get
    assert(m.majorBrand == "isom")
    assert(m.durationMs == 2000L) // 2000 ticks at timescale 1000
    assert(m.tracks.size == 1)
    val t = m.tracks.head
    assert(t.trackType == "video" && t.codec == "avc1")
    assert(t.width == 320 && t.height == 240)
    assert(t.durationMs == 2000L) // 180000 at timescale 90000
    assert(t.sampleCount == 3L)
    // non-MP4 payloads: None, never a throw
    assert(Multimodal.demuxMp4(null).isEmpty)
    assert(Multimodal.demuxMp4(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.demuxMp4(imageBytes("png", 8, 8)).isEmpty)
    assert(Multimodal.demuxMp4(mp4Bytes().take(40)).isEmpty) // moov missing
  }

  test("mp4SampleTable resolves exact byte offset and size of every sample") {
    val bytes = mp4Bytes()
    val mdatOff = 28L // ftyp (20 bytes) + mdat header (8)
    val table = Multimodal.mp4SampleTable(bytes)
    assert(table == Seq(
      (0, 0L, mdatOff, 5L),
      (0, 1L, mdatOff + 5, 7L),
      (0, 2L, mdatOff + 12, 11L)))
    // the resolved (offset, size) windows really contain the mdat payload
    table.foreach { case (_, _, off, len) =>
      val slice = bytes.slice(off.toInt, (off + len).toInt)
      assert(slice.length == len.toInt && slice.head != 0)
    }
  }

  test("malformed stsz with a huge uniform sample_count is rejected, not allocated") {
    // uniform-size stsz carries no per-entry data, so sample_count can't
    // be bounded by the box size — a crafted count of 2^31-1 must not
    // make the demuxer attempt a multi-GB allocation (OutOfMemoryError
    // escapes the Exception catch and would kill the executor)
    val ftyp = boxb("ftyp", "isom".getBytes, be32a(0x200), "isom".getBytes)
    val mvhd = boxb("mvhd", be32a(0), be32a(0), be32a(0), be32a(1000), be32a(2000),
      new Array[Byte](80))
    val mdhd = boxb("mdhd", be32a(0), be32a(0), be32a(0), be32a(90000), be32a(90000), be32a(0))
    val hdlr = boxb("hdlr", be32a(0), be32a(0), "vide".getBytes, new Array[Byte](13))
    val stsz = boxb("stsz", be32a(0), be32a(100), be32a(0x7fffffffL)) // uniform x 2^31-1
    val stbl = boxb("stbl", stsz)
    val trak = boxb("trak", boxb("mdia", mdhd, hdlr, boxb("minf", stbl)))
    val bytes = ftyp ++ boxb("moov", mvhd, trak)
    val m = Multimodal.demuxMp4(bytes).get // parses fine, just no samples
    assert(m.tracks.head.sampleCount == 0L)
    assert(Multimodal.mp4SampleTable(bytes).isEmpty)
  }

  test("probeMp3 skips a footered ID3v2.4 tag") {
    // footer flag (bit 4 of the flags byte) adds a 10-byte trailer the
    // declared syncsafe size does not include
    val tag = "ID3".getBytes ++ Array[Byte](4, 0, 0x10) ++
      Array[Byte](0, 0, 0, 20) ++ new Array[Byte](20) ++
      "3DI".getBytes ++ Array[Byte](4, 0, 0x10) ++ Array[Byte](0, 0, 0, 20)
    val m = Multimodal.probeMp3(tag ++ mp3Bytes(2)).get
    assert(m.frames == 2)
  }

  test("probeMp3 walks the frame chain: count, rate, bitrate, duration, ID3 skip") {
    val m = Multimodal.probeMp3(mp3Bytes(3)).get
    assert(m.mpegVersion == "MPEG1" && m.frames == 3)
    assert(m.sampleRate == 44100 && m.avgBitrateKbps == 128)
    assert(m.durationMs == 3L * 1152 * 1000 / 44100) // 78 ms
    // ID3v2 prefix is skipped, not counted
    assert(Multimodal.probeMp3(mp3Bytes(3, id3 = true)).get.frames == 3)
    // a truncated trailing frame is not counted
    assert(Multimodal.probeMp3(mp3Bytes(3, truncateLast = 10)).get.frames == 2)
    // non-MP3: None, never a throw
    assert(Multimodal.probeMp3(null).isEmpty)
    assert(Multimodal.probeMp3("not audio at all".getBytes).isEmpty)
    assert(Multimodal.probeMp3(imageBytes("png", 8, 8)).isEmpty)
  }

  /** n AAC ADTS frames (LC profile, 44.1 kHz stereo, 64-byte declared
    * frame length — the header carries the length explicitly). */
  private def adtsBytes(nFrames: Int): Array[Byte] = {
    val frame = Array[Byte](0xff.toByte, 0xf1.toByte, 0x50, 0x80.toByte,
      0x08, 0x00, 0x00) ++ new Array[Byte](57)
    Array.fill(nFrames)(frame).flatten
  }

  test("probeAdts walks the ADTS chain via its explicit frame-length field") {
    val m = Multimodal.probeAdts(adtsBytes(3)).get
    assert(m.frames == 3 && m.sampleRate == 44100 && m.channels == 2)
    assert(m.profile == "LC")
    assert(m.durationMs == 3L * 1024 * 1000 / 44100) // 69 ms
    // truncated trailing frame not counted; garbage/mp3/null -> None
    assert(Multimodal.probeAdts(adtsBytes(3).dropRight(10)).get.frames == 2)
    assert(Multimodal.probeAdts(null).isEmpty)
    assert(Multimodal.probeAdts("definitely not audio".getBytes).isEmpty)
    assert(Multimodal.probeAdts(mp3Bytes(2)).isEmpty, "mp3 sync must not pass the ADTS mask")
    assert(Multimodal.probeMp3(adtsBytes(2)).isEmpty, "ADTS must not pass the mp3 layer check")
  }

  test("decodeVideoFrames: real JPEG frames out of an MJPEG MP4; other codecs demux-only") {
    import spark.implicits._
    // three REAL distinct JPEG frames as the track's samples
    val frames = Seq(patterned(7), patterned(8), patterned(9)).map { png =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out); out.toByteArray
    }
    val mjpeg = mp4Bytes(codec = "jpeg", samples = Some(frames))
    val avc = mp4Bytes() // opaque avc1 samples: no JDK decoder
    val assets = Seq((1L, mjpeg), (2L, avc), (3L, "not video".getBytes))
      .toDF("asset_id", "content")
    val rows = Multimodal.decodeVideoFrames(spark, assets).collect()
    assert(rows.forall(_.getLong(0) == 1L), "only the MJPEG asset decodes")
    assert(rows.length == 3, s"3 frames expected, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getInt(3) == 320 && r.getInt(4) == 240, r) // real decoded dims
    }
    // each frame's descriptor equals the SAME jpeg decoded directly
    val direct = frames.map(b => Multimodal.imageDescriptor(b, 48).get.toSeq)
    val bySample = rows.map(r => r.getLong(2) -> r.getSeq[Float](5)).toMap
    (0 until 3).foreach { i =>
      assert(bySample(i.toLong) == direct(i), s"frame $i descriptor drifted")
    }
    // everyN subsamples the frame stream
    val every2 = Multimodal.decodeVideoFrames(spark, assets, everyN = 2)
      .select("sample_idx").as[Long].collect().sorted
    assert(every2.toSeq == Seq(0L, 2L))
  }

  test("videoCodecStatus counts the decode boundary per asset on a mixed fixture") {
    import spark.implicits._
    val jpegFrame = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(patterned(3)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out); out.toByteArray
    }
    val assets = Seq(
      (1L, mp4Bytes(codec = "jpeg", samples = Some(Seq(jpegFrame)))),
      (2L, mp4Bytes()),              // avc1: demux yes, JDK decode no
      (3L, mp4Bytes(codec = "hvc1")),
      (4L, "not a container".getBytes))
      .toDF("asset_id", "content")
    val rows = Multimodal.videoCodecStatus(spark, assets).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    assert(rows(1L) == (Some("jpeg"), "decoded"), rows(1L))
    assert(rows(2L) == (Some("avc1"), "external_decoder_handoff"), rows(2L))
    assert(rows(3L) == (Some("hvc1"), "external_decoder_handoff"), rows(3L))
    assert(rows(4L) == (None, "not_mp4"), rows(4L))
    // the counted boundary: statuses aggregate like extract_status does
    val counts = Multimodal.videoCodecStatus(spark, assets)
      .groupBy("codec_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("decoded" -> 1L, "external_decoder_handoff" -> 2L, "not_mp4" -> 1L))
  }

  test("distributed video demux + frame sampling + audio probe over mixed assets") {
    import spark.implicits._
    val assets = Seq(
      (1L, "video", mp4Bytes()),
      (2L, "audio", mp3Bytes(4)),
      (3L, "binary", "garbage".getBytes),
      (4L, "audio", adtsBytes(5))
    ).toDF("asset_id", "modality", "content")

    val vids = Multimodal.demuxVideoAssets(spark, assets)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(vids(1L).getString(1) == "isom" && vids(1L).getLong(2) == 2000L)
    assert(vids(1L).getString(4) == "avc1" && vids(1L).getInt(5) == 320)
    assert(vids(3L).isNullAt(1), "non-MP4 must demux to null metadata")

    val frames = Multimodal.videoFrameSamples(spark, assets, everyN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every 2nd sample of asset 1: samples 0 and 2
    assert(frames.toSet == Set((1L, 0L, 28L, 5L), (1L, 2L, 40L, 11L)))

    val audio = Multimodal.probeAudioAssets(spark, assets)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(audio(2L).getString(1) == "mp3" && audio(2L).getInt(3) == 4)
    assert(audio(2L).getInt(4) == 44100 && audio(2L).getInt(5) == 128)
    assert(audio(4L).getString(1) == "aac" && audio(4L).getString(2) == "LC")
    assert(audio(4L).getInt(3) == 5 && audio(4L).isNullAt(5), "ADTS declares no bitrate")
    assert(audio(1L).isNullAt(1), "an MP4 is not a raw frame chain")
  }

  test("sampleFrameOffsets explodes 1-to-N with correct offsets") {
    val assets = Multimodal.readAssets(spark, assetDir)
    val frames = Multimodal.sampleFrameOffsets(assets, everyNBytes = 10L)
    val forPng = frames.join(assets.select(col("asset_id"), col("meta.length").cast("long").as("len")), "asset_id")
      .collect()
    assert(forPng.nonEmpty)
    forPng.foreach { r =>
      val off = r.getAs[Long]("byte_offset")
      val len = r.getAs[Long]("len")
      assert(off < math.max(len, 10L))
      assert(off % 10L == 0L)
    }
  }
}
