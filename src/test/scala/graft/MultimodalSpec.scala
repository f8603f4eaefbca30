package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = Tables(spark, TestSpark.sfDir).documents

  test("binary + typed metadata schema is what downstream codecs expect") {
    implicit val s = spark
    val rec = Multimodal.records(docs)
    val schema = rec.schema.map(f => (f.name, f.dataType.typeName)).toMap
    assert(schema("content") == "binary")
    assert(schema("format") == "string")
    assert(schema("width") == "integer" && schema("height") == "integer")
    assert(rec.count() == docs.count())
  }

  test("real BMP fixture bytes decode to their top-down pixel grid") {
    import java.nio.{ByteBuffer, ByteOrder}
    // a real 2x2 24bpp bottom-up BMP: bottom row red,green; top row
    // blue,white — rows padded to 4 bytes (6 pixel bytes + 2 pad)
    val bmp = ByteBuffer.allocate(54 + 16).order(ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(70).putShort(0).putShort(0).putInt(54)
    bmp.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // BGR triples: red=(0,0,255) green=(0,255,0); blue=(255,0,0) white=(255,255,255)
    bmp.put(Array[Byte](0, 0, -1, 0, -1, 0, 0, 0)) // bottom row + pad
    bmp.put(Array[Byte](-1, 0, 0, -1, -1, -1, 0, 0)) // top row + pad
    val (w, h, px) = Multimodal.imagePixels(
      graft.operators.MMRecord(1L, bmp.array(), "bmp", 2, 2, 1)).get
    // the bottom-up file rows come back top-down: blue, white / red, green
    assert((w, h) == (2, 2))
    assert(px.toSeq == Seq(0x0000FF, 0xFFFFFF, 0xFF0000, 0x00FF00))
    // an unrecognized payload has no pixels
    assert(Multimodal.imagePixels(graft.operators.MMRecord(
      3L, "not a codec payload".getBytes, "jpeg", 8, 8, 1)).isEmpty)
  }

  test("real PNG bytes (ImageIO-encoded) decode through the full inflate+unfilter path") {
    // encode a REAL png with the JDK's own encoder (different codebase
    // from our parser) — 2x2: red, green / blue, white
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    // also a bigger gradient image to exercise Sub/Up/Paeth filters
    val grad = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    def rgb(x: Int, y: Int) = ((x * 4 % 256) << 16) | ((y * 4 % 256) << 8) | ((x + y) * 2 % 256)
    for (y <- 0 until 64; x <- 0 until 64) grad.setRGB(x, y, rgb(x, y))
    val bos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(grad, "png", bos2))
    val (w1, h1, px1) = Multimodal.imagePixels(
      graft.operators.MMRecord(1L, png, "png", 2, 2, 1)).get
    assert((w1, h1) == (2, 2))
    assert(px1.toSeq == Seq(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF))
    // PNG is lossless: every gradient pixel comes back exactly
    val (w2, h2, px2) = Multimodal.imagePixels(
      graft.operators.MMRecord(2L, bos2.toByteArray, "png", 64, 64, 1)).get
    assert((w2, h2) == (64, 64))
    for (y <- 0 until 64; x <- 0 until 64)
      assert(px2(y * 64 + x) == rgb(x, y), s"pixel ($x,$y)")
  }

  test("perceptual hash: identical pixels hash identically from PNG and BMP containers") {
    implicit val s = spark
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(32, 24,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 24; x <- 0 until 32)
      img.setRGB(x, y, ((x * 8 % 256) << 16) | ((y * 11 % 256) << 8) | ((x + y) * 3 % 256))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos)); bos.toByteArray
    }
    val rec = Seq(
      graft.operators.MMRecord(1L, enc("png"), "png", 32, 24, 1),
      graft.operators.MMRecord(2L, enc("bmp"), "bmp", 32, 24, 1)).toDS()
    val hashes = Multimodal.imagePhash(rec).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hashes.size == 2)
    // same pixels, two container formats, two independent encoders —
    // the decoder-side orientation normalization must make them equal
    assert(hashes(1L) == hashes(2L))
  }

  test("perceptual near-dup pairing finds the slightly-edited image and not the unrelated one") {
    implicit val s = spark
    import spark.implicits._
    def render(edit: Boolean, noise: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = if (noise) (x * 37 + y * 91 + x * y) % 256 else (x * 4) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      // the "edit": a small logo-sized patch, < 1 grid cell
      if (edit) for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos)); bos.toByteArray
    }
    val rec = Seq(
      graft.operators.MMRecord(1L, render(edit = false, noise = false), "png", 64, 64, 1),
      graft.operators.MMRecord(2L, render(edit = true, noise = false), "png", 64, 64, 1),
      graft.operators.MMRecord(3L, render(edit = false, noise = true), "png", 64, 64, 1)).toDS()
    val pairs = Multimodal.phashPairs(Multimodal.imagePhash(rec)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 <= 3L)
    // rerunning produces the identical hash set (pure function of bytes)
    val h1 = Multimodal.imagePhash(rec).collect().map(_.getLong(2)).sorted.toSeq
    val h2 = Multimodal.imagePhash(rec).collect().map(_.getLong(2)).sorted.toSeq
    assert(h1 == h2)
  }

  test("real JPEG bytes decode through the stock-JDK codec lane, within lossy tolerance of PNG") {
    // same pixels through two containers: PNG is lossless ground
    // truth, JPEG is the lossy re-encode the new lane must decode
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 64; x <- 0 until 64)
      img.setRGB(x, y, ((x * 4 % 256) << 16) | ((y * 4 % 256) << 8) | ((x + y) * 2 % 256))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos)); bos.toByteArray
    }
    val jpg = enc("jpg")
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8, "fixture must be a real JPEG")
    val pixels = Seq(enc("png") -> "png", jpg -> "jpeg").map { case (c, fmt) =>
      Multimodal.imagePixels(graft.operators.MMRecord(1L, c, fmt, 64, 64, 1)).get }
    assert(pixels.forall { case (w, h, px) => w == 64 && h == 64 && px.length == 4096 })
    // channel + luma means of a grid, in 0–1
    def means(px: Array[Int]): Seq[Double] = {
      val chans = px.toSeq.map { p =>
        val (r, g, b) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        Seq(r.toDouble, g.toDouble, b.toDouble, 0.299 * r + 0.587 * g + 0.114 * b)
      }
      (0 to 3).map(i => chans.map(_(i)).sum / px.length / 255.0)
    }
    val png = means(pixels(0)._3); val jpeg = means(pixels(1)._3)
    // lossy but mean-preserving: channel + luma means within 2/255
    for (i <- 0 to 3)
      assert(math.abs(png(i) - jpeg(i)) < 2.0 / 255.0,
        s"channel $i: png=${png(i)} jpeg=${jpeg(i)}")
  }

  test("perceptual hash covers all three image containers and pairs the JPEG re-encode") {
    implicit val s = spark
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 48; x <- 0 until 64)
      img.setRGB(x, y, ((x * 8 % 256) << 16) | ((y * 11 % 256) << 8) | ((x + y) * 3 % 256))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos)); bos.toByteArray
    }
    val rec = Seq(
      graft.operators.MMRecord(1L, enc("png"), "png", 64, 48, 1),
      graft.operators.MMRecord(2L, enc("bmp"), "bmp", 64, 48, 1),
      graft.operators.MMRecord(3L, enc("jpg"), "jpeg", 64, 48, 1)).toDS()
    val hashes = Multimodal.imagePhash(rec).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hashes.size == 3, "every container must produce a hash — jpeg rows no longer drop")
    // lossless containers agree exactly; the lossy one is within the
    // pairing tolerance, so near-dup detection sees all three as one image
    assert(hashes(1L) == hashes(2L))
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) <= 3,
      "JPEG re-encode must stay within dHash pairing distance of the source pixels")
    val pairs = Multimodal.phashPairs(Multimodal.imagePhash(rec)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  private def mp4Fixture(version: Int, timescale: Long, duration: Long,
      nTracks: Int): Array[Byte] = {
    import java.nio.ByteBuffer
    // real ISO-BMFF byte layout: ftyp(brand isom) + moov(mvhd + trak*)
    val mvhdLen = if (version == 0) 8 + 4 + 8 + 4 + 4 else 8 + 4 + 16 + 4 + 8
    val moovLen = 8 + mvhdLen + 8 * nTracks
    val bb = ByteBuffer.allocate(16 + moovLen) // big-endian by default
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    bb.putInt(moovLen).put("moov".getBytes)
    bb.putInt(mvhdLen).put("mvhd".getBytes).putInt(version << 24) // version+flags
    if (version == 0)
      bb.putInt(0).putInt(0).putInt(timescale.toInt).putInt(duration.toInt)
    else
      bb.putLong(0L).putLong(0L).putInt(timescale.toInt).putLong(duration)
    for (_ <- 0 until nTracks) bb.putInt(8).put("trak".getBytes)
    bb.array()
  }

  test("mp4 box parse reads ftyp/moov/mvhd for real: brand, timescale, duration, tracks") {
    import graft.operators.Multimodal.{mp4Meta, Mp4Meta}
    assert(mp4Meta(mp4Fixture(0, 1000L, 4500L, 2)) ==
      Some(Mp4Meta("isom", 1000L, 4500L, 2)))
    // version-1 mvhd stores 64-bit duration
    assert(mp4Meta(mp4Fixture(1, 90000L, 123456789L, 1)) ==
      Some(Mp4Meta("isom", 90000L, 123456789L, 1)))
    // malformed lanes all fall back instead of mis-parsing
    assert(mp4Meta("this is sixteen.".getBytes).isEmpty) // the synthetic corpus shape
    assert(mp4Meta(mp4Fixture(0, 1000L, 4500L, 2).take(20)).isEmpty) // truncated moov
    assert(mp4Meta(Array[Byte]()).isEmpty)
    // the spec's size==1 escape hatch: a 64-bit largesize box wrapping
    // the same moov payload must parse identically
    val plain = mp4Fixture(0, 1000L, 4500L, 2)
    val moovOff = 16
    val moovLen = plain.length - moovOff
    val bb = java.nio.ByteBuffer.allocate(plain.length + 8)
    bb.put(plain, 0, moovOff) // ftyp unchanged
    bb.putInt(1).put("moov".getBytes).putLong(moovLen + 8L) // size=1 + largesize
    bb.put(plain, moovOff + 8, moovLen - 8) // original moov children
    assert(mp4Meta(bb.array()) == Some(Mp4Meta("isom", 1000L, 4500L, 2)))
  }

  /** A complete playable-shape mp4: ftyp + mdat holding one real JPEG
    * sample + moov{mvhd, trak{mdia{minf{stbl{stsd(entry fourcc),
    * stsz(uniform size), stco(chunk 1 offset)}}}}} — the byte layout
    * [[graft.operators.Multimodal.mp4FirstJpegFrame]] walks.
    */
  private def mp4WithSample(sample: Array[Byte], entryType: String): Array[Byte] = {
    import java.nio.ByteBuffer
    def boxOf(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes).put(payload)
      bb.array()
    }
    val mdat = boxOf("mdat", sample) // at 16 → sample data begins at 24
    val sampleOff = 16 + 8
    val stsd = boxOf("stsd", {
      val b = ByteBuffer.allocate(8 + 8)
      b.putInt(0).putInt(1) // ver/flags, entry_count
      b.putInt(8).put(entryType.getBytes) // minimal sample entry
      b.array()
    })
    val stsz = boxOf("stsz", {
      val b = ByteBuffer.allocate(12)
      b.putInt(0).putInt(sample.length).putInt(1) // uniform size, 1 sample
      b.array()
    })
    val stco = boxOf("stco", {
      val b = ByteBuffer.allocate(8 + 4)
      b.putInt(0).putInt(1).putInt(sampleOff)
      b.array()
    })
    val stbl = boxOf("stbl", stsd ++ stsz ++ stco)
    val minf = boxOf("minf", stbl)
    val mdia = boxOf("mdia", minf)
    val trak = boxOf("trak", mdia)
    val mvhd = boxOf("mvhd", {
      val b = ByteBuffer.allocate(4 + 8 + 4 + 4)
      b.putInt(0).putLong(0L).putInt(1000).putInt(4500)
      b.array()
    })
    val moov = boxOf("moov", mvhd ++ trak)
    val ftyp = {
      val b = ByteBuffer.allocate(16)
      b.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      b.array()
    }
    ftyp ++ mdat ++ moov
  }

  test("jpeg-coded mp4: the first keyframe decodes to real pixel features and a phash") {
    implicit val s = spark
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 48; x <- 0 until 64)
      img.setRGB(x, y, ((x * 8 % 256) << 16) | ((y * 11 % 256) << 8) | ((x + y) * 3 % 256))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos)); bos.toByteArray
    }
    val jpg = enc("jpg")
    val video = mp4WithSample(jpg, "jpeg")
    // the extractor recovers the exact muxed bitstream
    assert(graft.operators.Multimodal.mp4FirstJpegFrame(video)
      .exists(_.sameElements(jpg)))
    val rec = Seq(
      graft.operators.MMRecord(1L, video, "mp4", 64, 48, 135),
      graft.operators.MMRecord(2L, jpg, "jpeg", 64, 48, 1),
      // an AVC-coded track whose sample is not H.264 stays undecoded
      graft.operators.MMRecord(3L, mp4WithSample(jpg, "avc1"), "mp4", 64, 48, 135)).toDS()
    val pixels = rec.collect().map(r => r.doc_id -> Multimodal.imagePixels(r)).toMap
    assert(pixels(1L).isDefined, "jpeg-in-mp4 must take the real keyframe lane")
    assert(pixels(3L).isEmpty, "a JPEG payload under an avc1 entry has no pixels")
    // same bitstream, same decoded grid as the standalone image
    val ((w1, h1, px1), (w2, h2, px2)) = (pixels(1L).get, pixels(2L).get)
    assert((w1, h1) == (64, 48) && (w1, h1) == (w2, h2) && px1.sameElements(px2))
    // and the phash lane hashes the keyframe identically to the image
    val hashes = Multimodal.imagePhash(rec).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hashes.contains(1L) && hashes(1L) == hashes(2L),
      "video keyframe and its source image must share one dHash")
    assert(!hashes.contains(3L))
    // frame sampling (mm_frames) is untouched by the keyframe lane:
    // mvhd still rules the count — 4.5 s · 30 fps = 135 frames
    val frames = Multimodal.frameSample(rec.filter(_.doc_id != 2L)).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(frames(1L) == 5 && frames(3L) == 5)
  }

  test("mvhd guards: short v1 payloads and overflow durations fall back instead of crashing") {
    import graft.operators.Multimodal.mp4Meta
    // a v1 mvhd with payload length 28 declares fields it does not
    // hold — must parse as None, not read the sibling box's bytes
    val bad = {
      val bb = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 28)
      bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      bb.putInt(8 + 8 + 28).put("moov".getBytes)
      bb.putInt(8 + 28).put("mvhd".getBytes).putInt(1 << 24) // version 1
      bb.put(new Array[Byte](24)) // 24 more bytes: total payload 28 < 32
      bb.array()
    }
    assert(mp4Meta(bad).isEmpty)
    // an overflow-crafting duration must not wrap into a negative
    // frame count or explode: the row falls back to its metadata
    implicit val s = spark
    import spark.implicits._
    val huge = mp4Fixture(1, 1L, Long.MaxValue / 16, 1) // duration·fps overflows
    val rec = Seq(graft.operators.MMRecord(9L, huge, "mp4", 0, 0, 61)).toDS()
    val out = Multimodal.frameSample(rec).collect().map(_.getInt(2)).sorted
    assert(out.toSeq == Seq(0, 30, 60), "fallback to declared n_frames")
  }

  test("frame sampling derives frame count from parsed mvhd duration, metadata only as fallback") {
    implicit val s = spark
    import spark.implicits._
    val rec = Seq(
      // real mp4: 4.5 s at timescale 1000 → 135 frames at 30 fps,
      // regardless of the (wrong) n_frames metadata
      graft.operators.MMRecord(1L, mp4Fixture(0, 1000L, 4500L, 1), "mp4", 0, 0, 999),
      // unparsable payload: the declared metadata fallback lane
      graft.operators.MMRecord(2L, "not an mp4 container".getBytes, "mp4", 0, 0, 61),
      // non-video rows never emit frames
      graft.operators.MMRecord(3L, "whatever".getBytes, "png", 0, 0, 50)).toDS()
    val out = Multimodal.frameSample(rec).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(2)).sorted.toSeq).toMap
    assert(out(1L) == Seq(0, 30, 60, 90, 120)) // ceil-free: 135 frames, step 30
    assert(out(2L) == Seq(0, 30, 60))
    assert(!out.contains(3L))
  }

  test("frame sampling explodes every 30th frame for video rows only") {
    implicit val s = spark
    val out = Multimodal.frameSample(Multimodal.records(docs)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (docId, frames) =>
      assert(docId % 4 == 2) // only mp4 rows
      val idxs = frames.map(_.getInt(2)).sorted
      assert(idxs.head == 0 && idxs.forall(_ % 30 == 0))
    }
  }

  test("resize metadata fits the box aspect-preserving with integer math") {
    implicit val s = spark
    import spark.implicits._
    // doc_id 704 → width 128, height 272: TALL image, width must
    // shrink proportionally (128*256 div 272 = 120), not pass through
    val tall = Seq((704L, "x" * 20, "en", "src0", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.resizeMeta(Multimodal.records(docs union tall),
      maxDim = 256).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    out.foreach { case (_, (w, h, ow, oh)) =>
      assert(ow <= 256 && oh <= 256)
      if (math.max(w, h) <= 256) assert(ow == w && oh == h) // pass-through
      else {
        assert(math.max(ow, oh) == 256) // longest side hits the box
        assert(ow == w * 256 / math.max(w, h) && oh == h * 256 / math.max(w, h))
      }
    }
    assert(out(704L) == (128, 272, 120, 256))
  }

  test("multi-index pairer equals the banded pairer exactly, incl. planted near-pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random 64-bit hashes + planted pairs at every distance 0..4
    // (4 must be EXCLUDED by both) + an identical-signature cluster
    val base = (1L to 300L).map(i => (i, rnd.nextLong()))
    def flip(h: Long, k: Int): Long = {
      var out = h
      rnd.shuffle((0 until 64).toList).take(k).foreach(b => out ^= (1L << b))
      out
    }
    val planted = (0 to 4).map(d => (1000L + d, flip(base.head._2, d)))
    val cluster = (2000L to 2005L).map(i => (i, base(5)._2))
    val hashes = (base ++ planted ++ cluster).toDF("doc_id", "phash")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val banded = rows(Multimodal.phashPairs(hashes))
    val mih = rows(Multimodal.phashPairsMih(hashes))
    assert(mih == banded, "generators disagree")
    // the distance-0..3 plants are all found, distance-4 is not
    (0 to 3).foreach(d => assert(banded.exists(t =>
      t._1 == 1L && t._2 == 1000L + d && t._3 == d), s"missing planted dist=$d"))
    assert(!banded.exists(t => t._2 == 1004L && t._1 == 1L))
    // identical-signature cluster: all C(6,2)+membership pairs present once
    assert(mih.count(t => t._1 >= 2000L && t._2 >= 2000L) == 15)
    assert(mih.size == mih.distinct.size)
  }

  test("phashStrategy picks banded on uncorrelated hashes, MIH on clustered ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // uncorrelated: 64-bit random hashes — band buckets ~singleton,
    // candidate comparisons per doc ≈ 0 → banding
    val uniform = (1L to 2000L).map(i => (i, rnd.nextLong())).toDF("doc_id", "phash")
    assert(Multimodal.phashStrategy(uniform) == "banded")
    // clustered: everyone shares the template signature except a few
    // flipped bits — each 16-bit band bucket holds ~all docs, so
    // comparisons per doc ≈ n ≫ cutover → MIH
    val template = rnd.nextLong()
    val clustered = (1L to 5000L)
      .map(i => (i, template ^ (1L << (i % 8).toInt))).toDF("doc_id", "phash")
    assert(Multimodal.phashStrategy(clustered) == "mih")
    // the dispatcher's output equals both generators' on either regime
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sample = (1L to 200L).map(i => (i, rnd.nextLong())) ++
      (500L to 520L).map(i => (i, template))
    val sampleDf = sample.toDF("doc_id", "phash")
    assert(rows(Multimodal.phashPairsAuto(sampleDf)) ==
      rows(Multimodal.phashPairs(sampleDf)))
  }

  test("codec fuzz: arbitrary and mutated payloads never fail a task") {
    // the documented contract — "None for anything malformed" — under
    // adversarial bytes: pure-random blobs, magic
    // numbers glued to garbage, and random single-byte mutations +
    // truncations of VALID png/bmp/wav/jpeg/mp4 payloads (headers that
    // lie about their own length fields are exactly what a web crawl
    // contains). Every pipeline stage must survive all of them.
    implicit val s = spark
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val magics = Seq[Array[Byte]](
      Array(0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A),
      Array('B', 'M'), Array('R', 'I', 'F', 'F'),
      Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte),
      Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes)
    def validPng(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val valid = Seq(validPng(), mp4Fixture(0, 1000L, 4500L, 2))
    def mutate(c: Array[Byte]): Array[Byte] = {
      val out = c.take(if (rnd.nextBoolean()) c.length else 1 + rnd.nextInt(c.length))
      if (out.nonEmpty) out(rnd.nextInt(out.length)) = rnd.nextInt(256).toByte
      out
    }
    val fmts = Seq("png", "bmp", "wav", "jpeg", "mp4")
    val recs = (
      (1 to 60).map(i => graft.operators.MMRecord(i.toLong,
        blob(1 + rnd.nextInt(200)), fmts(i % 5), 8, 8, 3)) ++
      (61 to 120).map(i => graft.operators.MMRecord(i.toLong,
        magics(i % 5) ++ blob(1 + rnd.nextInt(100)), fmts(i % 5), 8, 8, 3)) ++
      (121 to 180).map(i => graft.operators.MMRecord(i.toLong,
        mutate(valid(i % 2)), fmts(i % 5), 8, 8, 3))
    ).toDS()
    assert(Multimodal.resizeMeta(recs).count() == 180)
    assert(Multimodal.frameSample(recs).count() >= 0)
    assert(Multimodal.imagePhash(recs).count() >= 0) // unhashable rows drop
  }

  // ---- H.264 I_PCM keyframe lane: hand-assembled bitstream fixtures ----

  /** MSB-first bit writer + RBSP emulation-prevention escaping — the
    * test-side encoder for the I_PCM fixtures (the payload carries its
    * own expected pixels, so the decode is provable without an
    * external reference decoder).
    */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0; private var n = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); n += 1
      if (n == 8) { buf += cur.toByte; cur = 0; n = 0 }
    }
    def u(v: Int, bits: Int): Unit = (bits - 1 to 0 by -1).foreach(i => bit((v >> i) & 1))
    def ue(v: Int): Unit = {
      val code = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(code)
      u(0, len - 1); u(code, len)
    }
    def se(v: Int): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)
    def align(): Unit = while (n != 0) bit(0)
    def raw(bs: Array[Byte]): Unit = { align(); bs.foreach(buf += _) }
    def trailing(): Unit = { bit(1); align() }
    def rbsp: Array[Byte] = { require(n == 0, "unaligned"); buf.toArray }
  }

  /** 00 00 (00|01|02|03) → 00 00 03 xx, per the NAL escape rule. */
  private def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  private def spsBytes(wMbs: Int, hMbs: Int,
      crop: (Int, Int, Int, Int) = (0, 0, 0, 0)): Array[Byte] = {
    val w = new BitWriter
    w.u(66, 8); w.u(0, 8); w.u(30, 8) // baseline profile, level 3.0
    w.ue(0) // sps_id
    w.ue(0) // log2_max_frame_num_minus4
    w.ue(2) // poc_type 2: no poc fields in the slice header
    w.ue(0); w.u(0, 1) // max_num_ref_frames, gaps_allowed
    w.ue(wMbs - 1); w.ue(hMbs - 1)
    w.u(1, 1); w.u(0, 1) // frame_mbs_only, direct_8x8
    if (crop == (0, 0, 0, 0)) w.u(0, 1)
    else { w.u(1, 1); w.ue(crop._1); w.ue(crop._2); w.ue(crop._3); w.ue(crop._4) }
    w.u(0, 1) // vui_parameters_present
    w.trailing()
    Array(0x67.toByte) ++ escapeRbsp(w.rbsp) // NAL header: ref_idc 3, type 7
  }

  private def ppsBytes(cabac: Boolean = false): Array[Byte] = {
    val w = new BitWriter
    w.ue(0); w.ue(0) // pps_id, sps_id
    w.u(if (cabac) 1 else 0, 1); w.u(0, 1) // entropy_coding, bottom_poc
    w.ue(0) // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx defaults
    w.u(0, 1); w.u(0, 2) // weighted_pred, weighted_bipred
    w.se(0); w.se(0); w.se(0) // init_qp, init_qs, chroma_qp_offset
    w.u(0, 1); w.u(0, 1); w.u(0, 1) // deblock_present, constrained, redundant
    w.trailing()
    Array(0x68.toByte) ++ escapeRbsp(w.rbsp) // type 8
  }

  /** One-slice IDR NAL whose macroblocks are all I_PCM with the given
    * per-mb (Y[256], Cb[64], Cr[64]) planes.
    */
  private def idrIPcmBytes(mbs: Seq[(Array[Byte], Array[Byte], Array[Byte])])
      : Array[Byte] = {
    val w = new BitWriter
    w.ue(0); w.ue(7); w.ue(0) // first_mb, slice_type I(7), pps_id
    w.u(0, 4) // frame_num (log2 = 4)
    w.ue(0) // idr_pic_id
    w.u(0, 1); w.u(0, 1) // dec_ref_pic_marking IDR flags
    w.se(0) // slice_qp_delta
    mbs.foreach { case (y, cb, cr) =>
      w.ue(25) // I_PCM
      w.raw(y); w.raw(cb); w.raw(cr) // raw() aligns = pcm_alignment bits
    }
    w.trailing()
    Array(0x65.toByte) ++ escapeRbsp(w.rbsp) // type 5, ref_idc 3
  }

  /** A complete avc1 mp4: VisualSampleEntry (86 bytes) + avcC carrying
    * SPS/PPS, stsz/stco pointing at the AVCC-framed sample in mdat.
    */
  private def mp4WithAvcSample(sps: Array[Byte], pps: Array[Byte],
      idr: Array[Byte]): Array[Byte] = {
    import java.nio.ByteBuffer
    def boxOf(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes).put(payload)
      bb.array()
    }
    val sample = {
      val bb = ByteBuffer.allocate(4 + idr.length)
      bb.putInt(idr.length).put(idr) // AVCC framing, lengthSize 4
      bb.array()
    }
    val mdat = boxOf("mdat", sample)
    val sampleOff = 16 + 8 // after ftyp(16) + mdat header(8)
    val avcc = boxOf("avcC", {
      val bb = ByteBuffer.allocate(6 + 2 + sps.length + 1 + 2 + pps.length)
      bb.put(1.toByte).put(66.toByte).put(0.toByte).put(30.toByte)
      bb.put(0xFF.toByte) // reserved | lengthSizeMinusOne = 3
      bb.put(0xE1.toByte) // reserved | numSPS = 1
      bb.putShort(sps.length.toShort).put(sps)
      bb.put(1.toByte).putShort(pps.length.toShort).put(pps)
      bb.array()
    })
    val entry = {
      val bb = ByteBuffer.allocate(86 + avcc.length)
      bb.putInt(86 + avcc.length).put("avc1".getBytes)
      bb.put(new Array[Byte](6)).putShort(1) // reserved, data_ref_index
      bb.put(new Array[Byte](16)) // pre_defined/reserved block
      bb.putShort(32).putShort(32) // width, height (display hint)
      bb.putInt(0x00480000).putInt(0x00480000).putInt(0) // dpi, reserved
      bb.putShort(1).put(new Array[Byte](32)) // frame_count, compressor
      bb.putShort(24).putShort(-1) // depth, pre_defined
      bb.put(avcc)
      bb.array()
    }
    val stsd = boxOf("stsd", {
      val bb = ByteBuffer.allocate(8 + entry.length)
      bb.putInt(0).putInt(1).put(entry)
      bb.array()
    })
    val stsz = boxOf("stsz", {
      val bb = ByteBuffer.allocate(12)
      bb.putInt(0).putInt(sample.length).putInt(1)
      bb.array()
    })
    val stco = boxOf("stco", {
      val bb = ByteBuffer.allocate(12)
      bb.putInt(0).putInt(1).putInt(sampleOff)
      bb.array()
    })
    val stbl = boxOf("stbl", stsd ++ stsz ++ stco)
    val trak = boxOf("trak", boxOf("mdia", boxOf("minf", stbl)))
    val moov = boxOf("moov", trak)
    val ftyp = {
      val bb = ByteBuffer.allocate(16)
      bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
      bb.array()
    }
    ftyp ++ mdat ++ moov
  }

  test("avc1 mp4: an I_PCM IDR keyframe decodes to its literal pixels") {
    // grayscale gradient (Cb = Cr = 128 ⇒ R = G = B = Y exactly), with
    // zero rows so the emulation-prevention escape path is exercised
    // on both sides (the writer inserts 0x03, the decoder strips it)
    val yPlane = Array.tabulate(256)(i => ((i / 16) * 16).toByte) // rows 0,16,…,240
    val gray = Array.fill(64)(128.toByte)
    val mb = (yPlane, gray, gray)
    val video = mp4WithAvcSample(spsBytes(2, 2), ppsBytes(),
      idrIPcmBytes(Seq(mb, mb, mb, mb))) // 32×32, 4 identical mbs
    val out = graft.operators.Multimodal.mp4FirstAvcFrame(video)
    assert(out.isDefined, "I_PCM keyframe must decode")
    val (w, h, px) = out.get
    assert(w == 32 && h == 32)
    for (y <- 0 until 32; x <- 0 until 32) {
      val lum = (y % 16) * 16 // the literal PCM row value
      assert(px(y * 32 + x) == ((lum << 16) | (lum << 8) | lum),
        s"pixel ($x,$y)")
    }
    // the container sniff routes the mp4 record to the same keyframe
    val sniffed = Multimodal.imagePixels(
      graft.operators.MMRecord(9L, video, "mp4", 32, 32, 1))
    assert(sniffed.exists { case (sw, sh, spx) => sw == 32 && sh == 32 && spx.sameElements(px) },
      "avc I_PCM must take the real keyframe lane")
  }

  test("avc1 color conversion, cropping, and the declared entropy-coded boundary") {
    // one uniform color mb: Y=100, Cb=200, Cr=50 → BT.601: R=0 (clamped
    // from −9.4), G=131, B=228 — hand-computed, not copied from the code
    val y100 = Array.fill(256)(100.toByte)
    val cb200 = Array.fill(64)(200.toByte)
    val cr50 = Array.fill(64)(50.toByte)
    val colored = mp4WithAvcSample(spsBytes(1, 1), ppsBytes(),
      idrIPcmBytes(Seq((y100, cb200, cr50))))
    val (w1, h1, px1) = graft.operators.Multimodal.mp4FirstAvcFrame(colored).get
    assert(w1 == 16 && h1 == 16)
    assert(px1.forall(_ == ((0 << 16) | (131 << 8) | 228)))
    // frame cropping: crop_right=6 ⇒ 32−12=20 px wide (crop unit 2)
    val gray = Array.fill(64)(128.toByte)
    val mb = (Array.fill(256)(77.toByte), gray, gray)
    val cropped = mp4WithAvcSample(spsBytes(2, 1, crop = (0, 6, 0, 0)), ppsBytes(),
      idrIPcmBytes(Seq(mb, mb)))
    val (w2, h2, px2) = graft.operators.Multimodal.mp4FirstAvcFrame(cropped).get
    assert(w2 == 20 && h2 == 16 && px2.length == 320)
    assert(px2.forall(_ == ((77 << 16) | (77 << 8) | 77)))
    // the boundary: a CABAC PPS — no entropy decoder in-tree — must
    // return None, and the record has no pixels
    val cabac = mp4WithAvcSample(spsBytes(1, 1), ppsBytes(cabac = true),
      idrIPcmBytes(Seq((y100, cb200, cr50))))
    assert(graft.operators.Multimodal.mp4FirstAvcFrame(cabac).isEmpty)
    assert(Multimodal.imagePixels(graft.operators.MMRecord(3L, cabac, "mp4", 16, 16, 1)).isEmpty,
      "CABAC stream has no in-tree decoder")
  }
}
