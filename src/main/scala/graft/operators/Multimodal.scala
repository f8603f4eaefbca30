package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal record: opaque binary payload + typed metadata. */
final case class MMRecord(
    doc_id: Long, content: Array[Byte], format: String,
    width: Int, height: Int, n_frames: Int)

/** Multimodal-column plumbing (SURVEY.md §2.3): image/audio/video as
  * opaque `binary` columns with typed metadata, processed per
  * partition at scan parallelism.
  *
  * The image codecs are real: hand-written byte parsers for BMP and
  * PNG, the stock-JDK `javax.imageio` JPEG reader, and the first
  * keyframe of JPEG-coded and I_PCM `avc1` mp4 tracks (see
  * [[mp4FramePixels]]). [[imagePixels]] sniffs the container and
  * hands every consumer — the perceptual hash and the live phash
  * gate — one top-down packed-RGB grid. mp4 box metadata is parsed
  * for real ([[mp4Meta]]); entropy-coded video frames have no codec
  * here and those rows take the undecodable lane.
  */
object Multimodal {

  /** Attach a binary payload + typed metadata to each document.
    * Payload bytes are the UTF-8 prefix of the text (deterministic
    * stand-in for a real blob); metadata derives from doc_id with
    * exact integer arithmetic so an SQL oracle can mirror it.
    */
  def attachBinary(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(substring(col("text"), 1, 16), "UTF-8").as("content"),
      element_at(typedlit(Seq("jpeg", "png", "mp4", "wav")),
        (col("doc_id") % 4 + 1).cast("int")).as("format"),
      (col("doc_id") % 640 + 64).cast("int").as("width"),
      (col("doc_id") % 480 + 48).cast("int").as("height"),
      (col("doc_id") % 120 + 1).cast("int").as("n_frames"))

  /** Typed view for the partition-wise pixel and metadata paths. */
  def records(documents: DataFrame)(implicit spark: SparkSession): Dataset[MMRecord] = {
    import spark.implicits._
    attachBinary(documents).as[MMRecord]
  }

  /** REAL pure-JVM BMP parse: uncompressed 24-bit (BITMAPINFOHEADER,
    * BI_RGB, bottom-up, 4-byte row padding — the baseline every BMP
    * writer emits). Reads the actual byte layout: pixel-array offset
    * at 10, width/height at 18/22, bpp at 28, compression at 30;
    * pixels are BGR triples. Returns a packed-RGB pixel grid in
    * **top-down row-major order** (positive biHeight means the file
    * stores rows bottom-up; the flip is normalized here so every
    * pixel consumer sees the same orientation regardless of
    * container), or None for any shape this baseline doesn't cover
    * (other bpp, compressed, truncated).
    */
  private[operators] def bmpPixels(r: MMRecord): Option[(Int, Int, Array[Int])] = {
    val c = r.content
    if (c.length < 54 || c(0) != 'B'.toByte || c(1) != 'M'.toByte) return None
    val bb = java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixelOffset = bb.getInt(10)
    val width = bb.getInt(18)
    val height = bb.getInt(22) // positive = bottom-up; sign only flips row order
    val bpp = bb.getShort(28).toInt
    val compression = bb.getInt(30)
    // dimension cap FIRST, in Long (like the PNG path): width and
    // |height| both near 2^31 overflow even rowSizeL·absH (≈1.4e19 >
    // Long.MaxValue), which would wrap negative past the bounds check
    // and hand a multi-GB (or, wrapping in Int, zero-length)
    // allocation to the pixel loop; Long abs also neutralizes
    // height == Int.MinValue, where math.abs(Int) stays negative
    if (width <= 0 || width.toLong * math.abs(height.toLong) > MaxDecodePixels)
      return None
    val absH = math.abs(height)
    if (bpp != 24 || compression != 0 || absH == 0) return None
    // LONG row math: a crafted width near 2^31 overflows 24·width to a
    // negative rowSize, which would sail through the bounds check and
    // blow up the pixel allocation below (fuzz-spec finding)
    val rowSizeL = ((24L * width + 31L) / 32L) * 4L
    if (pixelOffset < 54 || pixelOffset.toLong + rowSizeL * absH > c.length) return None
    val rowSize = rowSizeL.toInt // ≤ c.length by the guard above
    // width·absH ≤ c.length/3 here (3 bytes/px ≤ rowSize), so the
    // allocation is bounded by the payload that actually arrived
    val px = new Array[Int](width * absH)
    var y = 0
    while (y < absH) {
      val srcRow = if (height > 0) absH - 1 - y else y // normalize to top-down
      val row = pixelOffset + srcRow * rowSize
      var x = 0
      while (x < width) {
        val b = c(row + 3 * x) & 0xff
        val g = c(row + 3 * x + 1) & 0xff
        val rr = c(row + 3 * x + 2) & 0xff
        px(y * width + x) = (rr << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    Some((width, absH, px))
  }

  /** REAL pure-JVM PNG parse: 8-bit truecolor (RGB / RGBA),
    * non-interlaced — the baseline every PNG encoder can emit. A full
    * real codec: big-endian chunk walk (IHDR first, IDAT
    * concatenation), zlib inflate via `java.util.zip.Inflater` (in the
    * JDK), then per-scanline unfiltering (None/Sub/Up/Average/Paeth —
    * the complete PNG filter set). Returns a packed-RGB top-down pixel
    * grid (PNG already stores top-down; alpha, when present, takes
    * part in filter prediction and is then dropped), or None for
    * palette/gray/16-bit/interlaced.
    */
  private[operators] def pngPixels(r: MMRecord): Option[(Int, Int, Array[Int])] = {
    val c = r.content
    if (c.length < 45 || (c(0) & 0xff) != 0x89 || c(1) != 'P'.toByte ||
      c(2) != 'N'.toByte || c(3) != 'G'.toByte) return None
    val bb = java.nio.ByteBuffer.wrap(c) // PNG integers are big-endian
    def tag(off: Int) = new String(c, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bb.getInt(8) != 13 || tag(12) != "IHDR") return None
    val width = bb.getInt(16); val height = bb.getInt(20)
    val bitDepth = c(24).toInt; val colorType = c(25).toInt; val interlace = c(28).toInt
    if (width <= 0 || height <= 0 || bitDepth != 8 || interlace != 0 ||
      (colorType != 2 && colorType != 6)) return None
    // decompression-bomb guard (fuzz-spec finding): header dims are
    // attacker-controlled, and (stride+1)·height overflowed Int for a
    // crafted width — cap total pixels BEFORE any allocation
    if (width.toLong * height > MaxDecodePixels) return None
    val channels = if (colorType == 2) 3 else 4
    val idat = new java.io.ByteArrayOutputStream()
    var off = 33 // past signature + IHDR
    var sawEnd = false
    while (!sawEnd && off + 8 <= c.length) {
      val len = bb.getInt(off); val typ = tag(off + 4)
      if (len < 0 || off + 12 + len > c.length) return None
      if (typ == "IDAT") idat.write(c, off + 8, len)
      if (typ == "IEND") sawEnd = true
      off += 12 + len
    }
    if (idat.size == 0) return None
    val stride = width * channels
    // zlib cannot expand beyond ~1032×, so a raw buffer bigger than
    // that bound can never be filled — reject instead of allocating
    // hundreds of MB for a 50-byte payload that lies about its dims
    val rawLen = (stride + 1L) * height
    if (rawLen > idat.size.toLong * 1032L + 64L) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var n = 0
    try {
      while (n < raw.length && !inflater.finished()) {
        val got = inflater.inflate(raw, n, raw.length - n)
        if (got == 0 && (inflater.needsInput() || inflater.needsDictionary())) return None
        n += got
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    if (n < raw.length) return None
    // unfilter scanlines in place into unsigned-int samples
    val img = new Array[Int](stride * height)
    var y = 0
    while (y < height) {
      val filter = raw(y * (stride + 1)) & 0xff
      if (filter > 4) return None
      val rowOff = y * (stride + 1) + 1
      var x = 0
      while (x < stride) {
        val rv = raw(rowOff + x) & 0xff
        val a = if (x >= channels) img(y * stride + x - channels) else 0 // left
        val b = if (y > 0) img((y - 1) * stride + x) else 0 // up
        val cc = if (x >= channels && y > 0) img((y - 1) * stride + x - channels) else 0
        val v = filter match {
          case 0 => rv
          case 1 => rv + a
          case 2 => rv + b
          case 3 => rv + (a + b) / 2
          case 4 => // Paeth predictor
            val p = a + b - cc
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - cc)
            rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc)
        }
        img(y * stride + x) = v & 0xff
        x += 1
      }
      y += 1
    }
    val px = new Array[Int](width * height)
    var i = 0
    while (i < width * height) {
      val base = i * channels
      px(i) = (img(base) << 16) | (img(base + 1) << 8) | img(base + 2)
      i += 1
    }
    Some((width, height, px))
  }

  /** REAL JPEG decode via the stock-JDK codec (`javax.imageio` ships
    * a baseline+progressive JPEG reader in every JRE — no external
    * library). Exposed as the same packed-RGB top-down grid as
    * [[bmpPixels]]/[[pngPixels]] so [[dHash64]] is container-blind. `ImageIO` is only reached
    * behind the 0xFFD8FF magic sniff; a payload the reader rejects
    * returns None — the fallback lane, like every other decoder here.
    */
  private[operators] def jpegPixels(r: MMRecord): Option[(Int, Int, Array[Int])] =
    jpegBytesPixels(r.content)

  private[operators] def jpegBytesPixels(c: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try {
      // in-memory decode; the default ImageIO path spills the stream
      // to a temp file per call, which is pure churn on executors
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(c))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < px.length) { px(i) &= 0xffffff; i += 1 } // drop alpha
        Some((w, h, px))
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }
  }

  /** One magic-byte sniff for every image container with a real
    * decoder (BMP, PNG, JPEG, and the keyframe of an mp4 track).
    * Returns the normalized top-down packed-RGB grid or None.
    *
    * Total by construction AND by backstop: each codec validates its
    * own header (long arithmetic, pixel caps, bounds vs the payload
    * that actually arrived), and a catch-all turns any residual
    * parser surprise into None — a crafted payload may waste one
    * record's worth of work, never a task (fuzz-spec-pinned over
    * random, magic-prefixed and mutated-valid payloads).
    */
  private[graft] def imagePixels(r: MMRecord): Option[(Int, Int, Array[Int])] = try {
    val c = r.content
    if (c.length >= 2 && c(0) == 'B'.toByte && c(1) == 'M'.toByte) bmpPixels(r)
    else if (c.length >= 4 && (c(0) & 0xff) == 0x89 && c(1) == 'P'.toByte &&
        c(2) == 'N'.toByte && c(3) == 'G'.toByte) pngPixels(r)
    else if (c.length >= 3 && (c(0) & 0xff) == 0xff && (c(1) & 0xff) == 0xd8 &&
        (c(2) & 0xff) == 0xff) jpegPixels(r)
    else if (isMp4(c)) mp4FramePixels(c) // keyframe of a JPEG- or I_PCM-coded track
    else None
  } catch {
    case scala.util.control.NonFatal(_) => None
  }

  /** ISO-BMFF sniff: box 1 is practically always `ftyp`. */
  private[operators] def isMp4(c: Array[Byte]): Boolean =
    c.length >= 12 && c(4) == 'f'.toByte && c(5) == 't'.toByte &&
      c(6) == 'y'.toByte && c(7) == 'p'.toByte

  /** Ceiling on decoded image pixels (~8K×8K): header dims above this
    * are treated as malformed/hostile (decompression bomb) and the
    * row takes the fallback lane. Keeps every per-record allocation
    * bounded no matter what a crawled payload claims about itself.
    */
  private[operators] val MaxDecodePixels = 1L << 26

  /** Parsed MP4 container metadata — what the `moov` header actually
    * stores (no codec needed): brand from `ftyp`, clock + length from
    * `mvhd`, track count from the `trak` children.
    */
  final case class Mp4Meta(majorBrand: String, timescale: Long, duration: Long, nTracks: Int)

  /** REAL pure-JVM MP4 box parse (ISO/IEC 14496-12 byte layout, like
    * the BMP/PNG parsers): walks the top-level box list — 32-bit
    * big-endian size + fourcc, with the spec's two escape hatches
    * (size==1 → 64-bit largesize follows the fourcc; size==0 → box
    * runs to EOF) — reads the `ftyp` major brand, then inside `moov`
    * reads `mvhd` (version 0: 32-bit timescale/duration at offsets
    * 12/16 past the version byte; version 1: 64-bit duration) and
    * counts `trak` children. Frame CONTENT is decoded only for
    * JPEG-coded sample entries (see [[mp4FirstJpegFrame]]) — but
    * duration, timescale and track count come from the actual bytes.
    * None for anything malformed: the whole parse is wrapped so a
    * crafted payload (e.g. an mvhd whose declared length lies about
    * the fields it holds) degrades to the fallback lane instead of
    * failing the task.
    */
  private[graft] def mp4Meta(c: Array[Byte]): Option[Mp4Meta] =
    try mp4MetaImpl(c)
    catch { case scala.util.control.NonFatal(_) => None }

  private def mp4MetaImpl(c: Array[Byte]): Option[Mp4Meta] = {
    if (c.length < 16) return None
    val bb = java.nio.ByteBuffer.wrap(c) // ISO boxes are big-endian
    def fourcc(off: Int) = new String(c, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // returns (payloadOff, payloadLen, nextBoxOff) or None if malformed
    def box(off: Int): Option[(String, Int, Int, Int)] = {
      if (off + 8 > c.length) return None
      val size32 = bb.getInt(off).toLong & 0xffffffffL
      val typ = fourcc(off + 4)
      val (payload, end) =
        if (size32 == 0) (off + 8, c.length) // to EOF
        else if (size32 == 1) {
          if (off + 16 > c.length) return None
          val size64 = bb.getLong(off + 8)
          if (size64 < 16 || off + size64 > c.length) return None
          (off + 16, off + size64.toInt)
        } else {
          if (size32 < 8 || off + size32 > c.length) return None
          (off + 8, off + size32.toInt)
        }
      Some((typ, payload, end - payload, end))
    }
    var off = 0
    var brand: String = null
    var moov: Option[(Int, Int)] = None
    while (off + 8 <= c.length) {
      box(off) match {
        case Some(("ftyp", p, len, next)) =>
          if (len < 4) return None
          brand = fourcc(p); off = next
        case Some(("moov", p, len, next)) => moov = Some((p, len)); off = next
        case Some((_, _, _, next)) if next > off => off = next
        case _ => return None
      }
    }
    if (brand == null || moov.isEmpty) return None
    val (mp, mlen) = moov.get
    var o = mp
    var timescale = -1L; var duration = -1L; var nTracks = 0
    while (o + 8 <= mp + mlen) {
      box(o) match {
        case Some(("mvhd", p, len, next)) =>
          if (len < 4) return None
          val version = c(p) & 0xff
          if (version == 0 && len >= 20) {
            timescale = bb.getInt(p + 12).toLong & 0xffffffffL
            duration = bb.getInt(p + 16).toLong & 0xffffffffL
          } else if (version == 1 && len >= 32) {
            // v1 layout: timescale is 4 bytes at p+20, duration 8 bytes
            // at p+24 — the payload must hold all 32, not just 28 (a
            // 28..31-byte box would read the next sibling's bytes)
            timescale = bb.getInt(p + 20).toLong & 0xffffffffL
            duration = bb.getLong(p + 24)
          } else return None
          o = next
        case Some(("trak", _, _, next)) => nTracks += 1; o = next
        case Some((_, _, _, next)) if next > o => o = next
        case _ => return None
      }
    }
    if (timescale <= 0 || duration < 0) None
    else Some(Mp4Meta(brand, timescale, duration, nTracks))
  }

  /** First video-sample bytes of an mp4 whose track stores
    * self-contained JPEG bitstreams — the `jpeg` sample-entry fourcc
    * (Motion JPEG in ISO-BMFF) or `mp4v` payloads that are really JPEG
    * (some muxers do this; the slice is magic-sniffed either way).
    * Walks `moov → trak → mdia → minf → stbl` with the same box
    * grammar as [[mp4Meta]], then inside `stbl`:
    *   - `stsd` (payload: ver/flags 4B + entry_count 4B + entries;
    *     each entry: size 4B + fourcc 4B) names the codec;
    *   - `stsz` (ver/flags 4B + sample_size 4B + sample_count 4B
    *     [+ per-sample sizes]) gives sample 1's byte length;
    *   - `stco`/`co64` (ver/flags 4B + entry_count 4B + offsets)
    *     gives chunk 1's file-absolute offset — and sample 1 starts
    *     exactly at chunk 1's offset, no stsc math needed for the
    *     first sample.
    * The slice [off, off+size) is returned only when it carries the
    * JPEG magic, so an AVC/HEVC track (`avc1`/`hvc1` entries, or
    * `mp4v` holding real MPEG-4 Part 2) cleanly returns None — that
    * lane is [[mp4FirstAvcFrame]]'s.
    * Any malformed geometry degrades to None, never a task failure.
    */
  /** Shared ISO-BMFF box grammar for the first-sample extractors —
    * one implementation of box/child/path and the stsz/stco
    * first-sample math, used by the JPEG and AVC keyframe lanes.
    */
  private final class BoxWalker(c: Array[Byte]) {
    private val bb = java.nio.ByteBuffer.wrap(c)
    def int(off: Int): Int = bb.getInt(off)
    def fourcc(off: Int): String =
      new String(c, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // (payloadOff, payloadLen, nextBoxOff) — same grammar as mp4Meta
    def box(off: Int, limit: Int): Option[(String, Int, Int, Int)] = {
      if (off + 8 > limit) return None
      val size32 = bb.getInt(off).toLong & 0xffffffffL
      val typ = fourcc(off + 4)
      val (payload, end) =
        if (size32 == 0) (off + 8, limit)
        else if (size32 == 1) {
          if (off + 16 > limit) return None
          val size64 = bb.getLong(off + 8)
          if (size64 < 16 || off + size64 > limit) return None
          (off + 16, off + size64.toInt)
        } else {
          if (size32 < 8 || off + size32 > limit) return None
          (off + 8, off + size32.toInt)
        }
      Some((typ, payload, end - payload, end))
    }
    /** First child box named `typ` within [from, to). */
    def child(typ: String, from: Int, to: Int): Option[(Int, Int)] = {
      var off = from
      while (off + 8 <= to) {
        box(off, to) match {
          case Some((t, p, len, _)) if t == typ => return Some((p, len))
          case Some((_, _, _, next)) if next > off => off = next
          case _ => return None
        }
      }
      None
    }
    def path(names: Seq[String], from: Int, to: Int): Option[(Int, Int)] =
      names.foldLeft(Option((from, to))) { (acc, name) =>
        acc.flatMap { case (f, t) => child(name, f, t).map { case (p, l) => (p, p + l) } }
      }
    /** Bytes of sample 1 — stsz gives its length, stco/co64 chunk 1's
      * file-absolute offset (sample 1 starts exactly there, no stsc
      * math needed for the first sample).
      */
    def firstSample(stblP: Int, stblEnd: Int): Option[Array[Byte]] =
      for {
        (stszP, stszLen) <- child("stsz", stblP, stblEnd)
        if stszLen >= 12
        uniform = bb.getInt(stszP + 4)
        size <- if (uniform != 0) Some(uniform)
                else if (stszLen >= 16 && bb.getInt(stszP + 8) >= 1)
                  Some(bb.getInt(stszP + 12))
                else None
        if size > 0
        offFirst <- child("stco", stblP, stblEnd)
          .filter(_._2 >= 12).map(t => bb.getInt(t._1 + 8).toLong & 0xffffffffL)
          .orElse(child("co64", stblP, stblEnd)
            .filter(_._2 >= 16).map(t => bb.getLong(t._1 + 8)))
        if offFirst >= 0 && offFirst + size <= c.length
      } yield java.util.Arrays.copyOfRange(c, offFirst.toInt, offFirst.toInt + size)
    /** Run `f` over every trak's (stbl bounds, first stsd entry
      * bounds); first Some wins. Files commonly lead with a non-video
      * track, so every trak is tried.
      */
    def firstTrack[T](f: (Int, Int, Int, Int) => Option[T]): Option[T] = {
      val (moovP, moovEnd) = path(Seq("moov"), 0, c.length).getOrElse(return None)
      var off = moovP
      while (off + 8 <= moovEnd) {
        box(off, moovEnd) match {
          case Some(("trak", p, len, next)) =>
            val hit = for {
              (stblP, stblEnd) <- path(Seq("mdia", "minf", "stbl"), p, p + len)
              (stsdP, stsdLen) <- child("stsd", stblP, stblEnd)
              if stsdLen >= 16
              out <- f(stblP, stblEnd, stsdP, stsdLen)
            } yield out
            if (hit.isDefined) return hit
            off = next
          case Some((_, _, _, next)) if next > off => off = next
          case _ => return None
        }
      }
      None
    }
  }

  private[graft] def mp4FirstJpegFrame(c: Array[Byte]): Option[Array[Byte]] = {
    try {
      val w = new BoxWalker(c)
      w.firstTrack { (stblP, stblEnd, stsdP, _) =>
        val entryType = w.fourcc(stsdP + 12)
        if (entryType != "jpeg" && entryType != "mp4v") None
        else w.firstSample(stblP, stblEnd).filter(slice =>
          slice.length >= 3 && (slice(0) & 0xff) == 0xff &&
            (slice(1) & 0xff) == 0xd8 && (slice(2) & 0xff) == 0xff)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** First keyframe of an `avc1`-coded track, decoded through the
    * in-tree H.264 I_PCM lane ([[H264]] — real pixels for
    * uncompressed-coded IDR frames; entropy-coded streams return
    * None). SPS/PPS come from the
    * sample entry's `avcC` configuration box (ISO 14496-15: after the
    * 86-byte VisualSampleEntry header — ver/profile/compat/level, a
    * 2-bit NAL length-size, then length-prefixed SPS and PPS sets);
    * the sample itself is AVCC-framed in `mdat`.
    */
  private[graft] def mp4FirstAvcFrame(c: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try {
      val w = new BoxWalker(c)
      w.firstTrack { (stblP, stblEnd, stsdP, stsdLen) =>
        val entryType = w.fourcc(stsdP + 12)
        val entryLen = w.int(stsdP + 8)
        if (entryType != "avc1" || entryLen < 94 ||
          stsdP + 8 + entryLen > stsdP + stsdLen) None
        else for {
          (avccP, avccLen) <- w.child("avcC", stsdP + 8 + 86, stsdP + 8 + entryLen)
          if avccLen >= 7
          lengthSize = (c(avccP + 4) & 0x03) + 1
          nSps = c(avccP + 5) & 0x1f
          if nSps >= 1
          spsLen = ((c(avccP + 6) & 0xff) << 8) | (c(avccP + 7) & 0xff)
          if avccP + 8 + spsLen + 1 <= avccP + avccLen
          sps = java.util.Arrays.copyOfRange(c, avccP + 8, avccP + 8 + spsLen)
          ppsCntOff = avccP + 8 + spsLen
          if (c(ppsCntOff) & 0xff) >= 1
          ppsLen = ((c(ppsCntOff + 1) & 0xff) << 8) | (c(ppsCntOff + 2) & 0xff)
          if ppsCntOff + 3 + ppsLen <= avccP + avccLen
          pps = java.util.Arrays.copyOfRange(c, ppsCntOff + 3, ppsCntOff + 3 + ppsLen)
          sample <- w.firstSample(stblP, stblEnd)
          out <- H264.decodeAvccSample(sps, pps, sample, lengthSize)
        } yield out
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Pixels of an mp4's first video keyframe: JPEG-coded samples go
    * through the same ImageIO lane every plain-JPEG payload takes —
    * so a video keyframe and the standalone image it was muxed from
    * produce the same packed-RGB grid and the same dHash — and `avc1` tracks through the in-tree H.264 I_PCM lane.
    */
  private[graft] def mp4FramePixels(c: Array[Byte]): Option[(Int, Int, Array[Int])] =
    mp4FirstJpegFrame(c).flatMap(jpegBytesPixels)
      .orElse(mp4FirstAvcFrame(c))

  /** Ceiling on a CONTENT-parsed frame count (~9.7 h at 30 fps): a
    * parsed value above this is treated as malformed metadata and the
    * row falls back to its declared `n_frames` column.
    */
  private[operators] val MaxParsedFrames = 1L << 20

  /** Frame sampling for video rows: every `step`-th frame index,
    * exploded — a narrow generator, the fan-out stays on executors.
    *
    * Frame count comes from the CONTENT when the payload is a real
    * MP4: `mvhd` duration/timescale × `fps`, parsed by [[mp4Meta]]
    * on the executors (same per-partition shape as the image
    * decoders). Rows whose bytes aren't an mp4 container — the
    * synthetic corpus, truncated uploads — fall back to the declared
    * `n_frames` metadata column, the honest lane for payloads with
    * no parsable header.
    */
  def frameSample(records: Dataset[MMRecord], step: Int = 30, fps: Int = 30)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    records.filter(col("format") === "mp4")
      .mapPartitions { iter =>
        iter.map { r =>
          // overflow-safe frame count: a crafted v1 mvhd duration could
          // wrap duration·fps (or exceed Int range after the divide), and
          // a merely huge-but-valid duration would explode to tens of
          // millions of frame rows — both take the metadata fallback
          val parsed = mp4Meta(r.content).flatMap { m =>
            try {
              val total = Math.multiplyExact(m.duration, fps.toLong) / m.timescale
              if (total > MaxParsedFrames) None
              else Some(math.max(1L, total).toInt)
            } catch { case _: ArithmeticException => None }
          }
          (r.doc_id, parsed.getOrElse(r.n_frames))
        }
      }.toDF("doc_id", "n_frames")
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))).as("frame_idx"))
  }

  /** Metadata-only "resize": aspect-preserving fit into a maxDim box
    * with exact integer arithmetic (floor of dim·maxDim / longest
    * side; images already inside the box pass through). The typed-
    * metadata transform pattern — the real pixel work would start
    * from [[imagePixels]].
    */
  def resizeMeta(records: Dataset[MMRecord], maxDim: Int = 256): DataFrame =
    records.toDF().select(
      col("doc_id"), col("format"), col("width"), col("height"),
      when(greatest(col("width"), col("height")) <= maxDim, col("width"))
        .otherwise(expr(s"width * $maxDim div greatest(width, height)")
          .cast("int")).as("out_width"),
      when(greatest(col("width"), col("height")) <= maxDim, col("height"))
        .otherwise(expr(s"height * $maxDim div greatest(width, height)")
          .cast("int")).as("out_height"))

  /** 64-bit difference hash (dHash) of a packed-RGB grid: box-average
    * luma into a 9×8 grid, bit k = (cell left of k) < (cell right of
    * k) row-wise — the standard perceptual image fingerprint. Small
    * brightness/compression/resize changes keep most bits; Hamming
    * distance is the visual-similarity metric. Images narrower than
    * the grid get degenerate (empty-box) cells — callers should treat
    * sub-9×8 images as unhashable rather than trust their hash.
    */
  private[operators] def dHash64(w: Int, h: Int, px: Array[Int]): Long = {
    val gw = 9; val gh = 8
    val cell = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh; val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw; val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            val p = px(y * w + x)
            s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
              0.114 * (p & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        cell(gy)(gx) = if (n > 0) s / n else 0.0
        gx += 1
      }
      gy += 1
    }
    var hash = 0L; var k = 0
    var i = 0
    while (i < gh) {
      var j = 0
      while (j < gw - 1) {
        if (cell(i)(j) < cell(i)(j + 1)) hash |= (1L << k)
        k += 1; j += 1
      }
      i += 1
    }
    hash
  }

  /** Perceptual hash per image record: real pixel decode (BMP, PNG,
    * JPEG — every image container with a working codec here) →
    * [[dHash64]]. Rows whose bytes don't decode are dropped, the
    * fallback lane a real pipeline routes to a slower codec fleet.
    * Narrow mapPartitions at scan parallelism; output is 8 bytes a
    * row no matter the image size, so everything downstream is
    * corpus-count-sized, not pixel-sized. Orientation is normalized
    * by the decoders (BMP's bottom-up flip), so the same pixels hash
    * identically from any container — the cross-container spec pins
    * that, and pins JPEG's lossy re-encode within Hamming tolerance.
    */
  def imagePhash(records: Dataset[MMRecord])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    records.mapPartitions { iter =>
      iter.flatMap { r =>
        imagePixels(r).map { case (w, h, arr) => (r.doc_id, r.format, dHash64(w, h, arr)) }
      }
    }.toDF("doc_id", "format", "phash")
  }

  /** Hamming distance at or below which two 64-bit hashes are a
    * near-duplicate pair — the cut of [[phashPairs]], [[phashPairsMih]],
    * [[phashPairsAuto]], `Dedup.simhashNearDup` and the phash stream
    * gate. Both candidate generators are pigeonhole-exact only up to
    * 3: ≤ 3 differing bits leave one of four 16-bit bands, or one of
    * two 32-bit blocks within one bit, untouched.
    */
  private[graft] val HammingMaxDist = 3

  /** Near-duplicate image pairs by dHash Hamming distance ≤
    * [[HammingMaxDist]], found the scale-correct way: 4×16-bit banding (the same
    * pigeonhole as SimHash text dedup — ≤3 differing bits leave ≥1
    * band untouched, so recall is exact), candidate pairs only within
    * a band bucket, popcount verification on candidates only. Only
    * (band, key) pairs shuffle; no all-pairs join ever forms.
    */
  def phashPairs(hashes: DataFrame): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("phash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(phash, band * 16) & 65535"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("phash").as("pa"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("phash").as("pb"))
    // Candidate pairs NEVER shuffle: the popcount cut and the
    // cross-band dedup are both inline filters fused into the join's
    // codegen stage, so a clustered band bucket (n² candidates from
    // correlated signatures) costs n² cheap comparisons in codegen —
    // not an n²-row exchange. The dedup is the first-matching-band
    // canonicalization: a pair colliding in several bands is emitted
    // only by the LOWEST matching band, decided from the two full
    // hashes each row already carries (replaces the groupBy-min, which
    // shuffled every candidate: 29.6 M rows for 36 k result pairs on a
    // 50 k-doc corpus — the measured 12× super-linear row at 10×).
    val earlierBandMatches = (0 until 3).map { i =>
      (col("band") > i) &&
        (expr(s"shiftright(pa, ${i * 16}) & 65535") ===
          expr(s"shiftright(pb, ${i * 16}) & 65535"))
    }.reduce(_ || _)
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"bit_count(pa ^ pb) <= $HammingMaxDist"))
      .filter(!earlierBandMatches)
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(pa ^ pb)").cast("long").as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-duplicate pairs by Hamming distance ≤ [[HammingMaxDist]] via
    * MULTI-INDEX HASHING (cf. Norouzi, Punjani, Fleet, "Fast Search
    * in Hamming Space with Multi-Index Hashing", CVPR'12) — the
    * alternative candidate generator to [[phashPairs]]'s 4×16-bit
    * banding, for corpora whose signatures CLUSTER: two 32-bit blocks
    * index the corpus, and each doc probes its own block value plus
    * its 32 single-bit flips. Pigeonhole over m=2 blocks: dist ≤ 3
    * leaves ≥1 block with ≤⌊3/2⌋ = 1 error, so enumerating the
    * radius-1 Hamming ball on the probe side gives EXACT recall —
    * same output as [[phashPairs]], same brute-force SQL oracle.
    *
    * Scale trade vs banding: probes are 66 rows/doc (vs 4) and the
    * join shuffles them — but bucket keys live in a 2³²-value space
    * (vs 2¹⁶), so correlated signatures can't pile thousands of docs
    * into one bucket: in-bucket candidate work stays ~linear in docs
    * where the 16-bit bands grow quadratically (measured: SCALING.md).
    * Pick banding for small/uncorrelated corpora, MIH beyond. Dedup
    * is exact and inline, like the banded pairer: a qualifying pair
    * survives only from its probe-side-smaller orientation, in its
    * first qualifying block, on the single ball variant that matches
    * — no aggregate ever sees candidates.
    */
  def phashPairsMih(hashes: DataFrame): DataFrame = {
    val idx = hashes.select(col("doc_id").as("doc_b"), col("phash").as("pb"),
        explode(sequence(lit(0), lit(1))).as("blk"))
      .withColumn("key", expr("shiftright(pb, blk * 32) & 4294967295"))
    // probe rows DO carry the probe's own hash (66 rows/doc × 8 bytes
    // through the bucket-join exchange, ~2.6 GB at 5 M docs) — by
    // DESIGN, not oversight: it lets bit_count prune candidates
    // INLINE on the join's output stream. The tempting alternative
    // (slim probes, re-join pa per candidate on doc_a) moves the
    // pruning BEHIND a doc_a exchange of the RAW collision stream,
    // which is unbounded on heavy identical-hash groups — tried and
    // reverted round 11 after it filled the disk at generated sf100
    // where the carried-hash shape completes in ~155 s.
    val probes = hashes.select(col("doc_id").as("doc_a"), col("phash").as("pa"),
        explode(sequence(lit(0), lit(1))).as("blk"))
      .withColumn("v", expr("shiftright(pa, blk * 32) & 4294967295"))
      .select(col("doc_a"), col("pa"), col("blk"), explode(expr(
        "concat(array(v), transform(sequence(0, 31), i -> v ^ shiftleft(1L, i)))")).as("key"))
    // sort-merge bucket join, not SHUFFLE_HASH on the 2-rows/doc
    // index side: the hash join wins at sf10 (5.3 vs 7.4 s) but loses
    // at generated sf100 (353 vs 204 s) — past the memory cliff the
    // SMJ's sequential spill-sort-merge beats random-access probes of
    // partition-wide tables (SCALING.md round 12, "mm_phash_pairs_auto's
    // MIH exchange at sf100")
    probes.join(idx, Seq("blk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"bit_count(pa ^ pb) <= $HammingMaxDist"))
      // first qualifying block (guaranteed to exist by pigeonhole):
      // emit there only — with the exact-match index, each pair hits a
      // block through exactly ONE ball variant, so this is a full dedup
      .filter(col("blk") ===
        expr("if(bit_count((pa ^ pb) & 4294967295) <= 1, 0, 1)"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(pa ^ pb)").cast("long").as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Candidate comparisons per doc above which the banded pairer's
    * in-bucket quadratic work outgrows MIH's 66-probe-rows-per-doc
    * shuffle. Calibrated from SCALING.md's measured crossover on the
    * clustered corpus: ~600 comparisons/doc at sf0.1 (banding still
    * 1.2× faster), ~6 000/doc at 10× (MIH 1.5× faster) — the
    * geometric midpoint, rounded.
    */
  private[operators] val MihCandPerDocCutover = 2000.0

  /** Which pair generator does this corpus want? The bucket-occupancy
    * probe behind [[phashPairsAuto]] (the [[Dedup.jaccardStrategy]]
    * precedent: measure, don't guess). Banded cost is
    * Σ_buckets n·(n−1)/2 codegen comparisons — quadratic in bucket
    * occupancy, so correlated signatures (near-identical crawls,
    * templated thumbnails) grow it super-linearly; MIH pays a flat
    * 66 probe rows/doc through the shuffle but its 2³²-value keys
    * keep buckets ~singleton.
    *
    * The probe runs on a Bernoulli SAMPLE of the hash table so its
    * keyed aggregate never becomes a full corpus pass of its own (at
    * 100 TB the 4-rows-per-doc band table is 4n rows through a
    * shuffle — real money for a yes/no answer). With sample rate f,
    * in-bucket pairs scale f² and rows scale f, so the unbiased
    * comparisons-per-doc estimator is cand_s / (f · docs_s). The
    * estimator's bias direction is safe by construction: small
    * buckets (the banded regime) rarely keep ≥2 sampled docs, so
    * sampling UNDERestimates their candidate mass and keeps banding —
    * it can only flip corpora whose buckets are genuinely heavy,
    * which is exactly the MIH regime. An empty or sub-singleton
    * sample defaults to banding (the tiny-corpus best arm).
    */
  def phashStrategy(hashes: DataFrame): String = {
    val f = 0.1
    val r = hashes.sample(withReplacement = false, f, seed = 7L)
      .select(explode(sequence(lit(0), lit(3))).as("band"), col("phash"))
      .select(col("band"), expr("shiftright(phash, band * 16) & 65535").as("key"))
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("cand"), sum(col("n")).as("rows4"))
      .head()
    val cand = if (r.isNullAt(0)) 0L else r.getLong(0)
    val docs = (if (r.isNullAt(1)) 0L else r.getLong(1)) / 4
    if (docs > 0 &&
        cand.toDouble / (f * docs) > MihCandPerDocCutover) "mih"
    else "banded"
  }

  /** Adaptive Hamming pairing: probe the band-bucket occupancy with
    * [[phashStrategy]], then dispatch to [[phashPairs]] (banding — 4
    * probe rows/doc, wins on uncorrelated corpora) or
    * [[phashPairsMih]] (multi-index — flat probe cost, wins as
    * signature clustering compounds). Both are pigeonhole-exact at
    * [[HammingMaxDist]] and produce identical pairs (same brute-force
    * oracle), so the switch is a pure cost decision.
    *
    * Epilogue (round 8 — the r7 audit measured the old persist +
    * probe + result-checkpoint protocol costing the auto path
    * 1.35–1.75× its best forced arm): the hash TABLE is eagerly
    * checkpointed once — it is structurally tiny (doc_id + one long =
    * 16 bytes/row, whatever the front-end cost), so the front-end
    * (decode or signature scan) runs exactly ONCE, and the probe plus
    * both sides of the chosen arm's self-join read the materialized
    * table instead of recomputing it. No persist() registration means
    * no unpersist epilogue and no result checkpoint: the returned
    * frame is a lazy plan over the checkpointed table, whose blocks
    * the ContextCleaner frees once unreferenced. The forced arms pay
    * the front-end once per join side, so the auto path is CHEAPER
    * than its own best arm wherever the front-end costs more than
    * one 16-byte-row materialization (measured: see SCALING.md).
    */
  def phashPairsAuto(hashes: DataFrame): DataFrame = {
    val h = graft.operators.Caching.materialize(hashes)
    if (phashStrategy(h) == "mih") phashPairsMih(h) else phashPairs(h)
  }

  /** The rows-only `mm_meta` query: binary length + typed metadata,
    * all mirrorable by exact integer SQL.
    */
  def meta(documents: DataFrame): DataFrame =
    attachBinary(documents)
      .select(col("doc_id"), length(col("content")).cast("long").as("n_bytes"),
        col("format"), col("width"), col("height"), col("n_frames"))
      .orderBy(col("doc_id"))
}
