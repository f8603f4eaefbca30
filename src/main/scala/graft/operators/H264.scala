package graft.operators

/** Minimal pure-JVM H.264 (AVC) reader for the multimodal keyframe
  * lane: parses SPS/PPS and decodes baseline-profile IDR slices whose
  * macroblocks are coded I_PCM (mb_type 25 — raw uncompressed 4:2:0
  * samples, the one AVC coding mode with no entropy-decode stage).
  *
  * Scope, written down as the dependency-boundary decision (round-6
  * verdict item 5): a full H.264 intra decoder needs CAVLC/CABAC
  * residual decode, 9+4 intra predictors, dequant/IDCT and the
  * in-loop deblocker — thousands of lines whose correctness cannot be
  * proven in-tree (zero-egress: no reference decoder or encoder
  * exists in this environment to cross-check against, and no external
  * dependency may be added). I_PCM is different in kind: its pixel
  * payload is literal bytes, so hand-crafted fixtures carry their own
  * expected output and the decode is provable. Everything NAL-level is
  * real and shared with any future entropy decoder — annex-B/AVCC
  * framing, emulation-prevention unescape, exp-Golomb, SPS/PPS/slice
  * headers, macroblock walk, 4:2:0 plane assembly, cropping, YUV→RGB.
  * Non-I_PCM macroblocks and CABAC streams return None and the row
  * takes the undecodable lane, exactly like any other out-of-baseline
  * payload.
  */
private[operators] object H264 {

  /** MSB-first bit reader over an unescaped RBSP. */
  private final class BitReader(data: Array[Byte]) {
    private var pos = 0
    def bit(): Int = {
      if (pos >= data.length * 8) throw new IllegalArgumentException("rbsp underrun")
      val b = (data(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1; b
    }
    def u(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    /** Unsigned exp-Golomb. */
    def ue(): Int = {
      var zeros = 0
      while (bit() == 0) {
        zeros += 1
        if (zeros > 31) throw new IllegalArgumentException("ue overflow")
      }
      if (zeros == 0) 0 else ((1 << zeros) - 1) + u(zeros)
    }
    /** Signed exp-Golomb. */
    def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
    def byteAlign(): Unit = while ((pos & 7) != 0) pos += 1
    def bytes(n: Int): Array[Byte] = {
      byteAlign()
      val start = pos >> 3
      if (start + n > data.length) throw new IllegalArgumentException("rbsp underrun")
      pos += n * 8
      java.util.Arrays.copyOfRange(data, start, start + n)
    }
  }

  /** Strip emulation-prevention bytes: 00 00 03 → 00 00. */
  private[operators] def unescapeRbsp(nal: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(nal.length - from)
    var i = from
    var zeros = 0
    while (i < nal.length) {
      val b = nal(i)
      if (zeros >= 2 && b == 0x03) zeros = 0 // skip the escape byte
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  final case class Sps(
      profile: Int, levelIdc: Int, log2MaxFrameNum: Int, pocType: Int,
      log2MaxPocLsb: Int, widthMbs: Int, heightMbs: Int,
      cropL: Int, cropR: Int, cropT: Int, cropB: Int) {
    def width: Int = widthMbs * 16 - 2 * (cropL + cropR)
    def height: Int = heightMbs * 16 - 2 * (cropT + cropB)
  }

  /** SPS parse — profiles with the chroma-format extension block
    * (High and friends, profile_idc ≥ 100) and field coding return
    * None: out of the baseline scope this lane declares.
    */
  private[operators] def parseSps(rbsp: Array[Byte]): Option[Sps] =
    try {
      val br = new BitReader(rbsp)
      val profile = br.u(8)
      br.u(8) // constraint flags + reserved
      val level = br.u(8)
      br.ue() // sps_id
      if (profile >= 100) return None // extension block not handled
      val log2Mfn = br.ue() + 4
      val pocType = br.ue()
      var log2Poc = 0
      if (pocType == 0) log2Poc = br.ue() + 4
      else if (pocType == 1) return None // ref-offset lists, out of scope
      br.ue() // max_num_ref_frames
      br.u(1) // gaps_in_frame_num_allowed
      val wMbs = br.ue() + 1
      val hMapUnits = br.ue() + 1
      val frameMbsOnly = br.u(1)
      if (frameMbsOnly != 1) return None // field/MBAFF out of scope
      br.u(1) // direct_8x8_inference
      var (cl, cr, ct, cb) = (0, 0, 0, 0)
      if (br.u(1) == 1) { cl = br.ue(); cr = br.ue(); ct = br.ue(); cb = br.ue() }
      val sps = Sps(profile, level, log2Mfn, pocType, log2Poc, wMbs, hMapUnits,
        cl, cr, ct, cb)
      if (sps.width <= 0 || sps.height <= 0 ||
        sps.width.toLong * sps.height > Multimodal.MaxDecodePixels) None
      else Some(sps)
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class Pps(
      bottomFieldPocPresent: Boolean, deblockingControlPresent: Boolean,
      redundantPicCntPresent: Boolean)

  /** PPS parse — CABAC streams and slice groups return None (the
    * entropy-coded path this lane declares out of scope).
    */
  private[operators] def parsePps(rbsp: Array[Byte]): Option[Pps] =
    try {
      val br = new BitReader(rbsp)
      br.ue(); br.ue() // pps_id, sps_id
      val cabac = br.u(1)
      if (cabac != 0) return None // CABAC: no entropy decoder in-tree
      val bottomPoc = br.u(1)
      if (br.ue() + 1 != 1) return None // slice groups (FMO) out of scope
      br.ue(); br.ue() // num_ref_idx_l0/l1_default
      br.u(1); br.u(2) // weighted_pred, weighted_bipred
      br.se(); br.se(); br.se() // init_qp, init_qs, chroma_qp_offset
      val deblocking = br.u(1)
      br.u(1) // constrained_intra_pred
      val redundant = br.u(1)
      Some(Pps(bottomPoc == 1, deblocking == 1, redundant == 1))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode an IDR slice NAL (type 5, full byte including the NAL
    * header) whose macroblocks are all I_PCM, to a packed-RGB grid.
    * Any other coding — non-I slice type, a non-I_PCM mb_type —
    * returns None.
    */
  private[operators] def decodeIdrIPcm(sps: Sps, pps: Pps,
      nal: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      if (nal.length < 2 || (nal(0) & 0x1f) != 5) return None
      val br = new BitReader(unescapeRbsp(nal, 1))
      if (br.ue() != 0) return None // first_mb_in_slice: one-slice frames only
      val sliceType = br.ue()
      if (sliceType != 2 && sliceType != 7) return None // I slices only
      br.ue() // pps_id
      br.u(sps.log2MaxFrameNum) // frame_num
      br.ue() // idr_pic_id
      if (sps.pocType == 0) {
        br.u(sps.log2MaxPocLsb) // pic_order_cnt_lsb
        if (pps.bottomFieldPocPresent) br.se() // delta_pic_order_cnt_bottom
      }
      if (pps.redundantPicCntPresent) br.ue() // redundant_pic_cnt
      // dec_ref_pic_marking, IDR branch
      br.u(1); br.u(1) // no_output_of_prior_pics, long_term_reference
      br.se() // slice_qp_delta
      if (pps.deblockingControlPresent && br.ue() != 1) { br.se(); br.se() }
      val (wMbs, hMbs) = (sps.widthMbs, sps.heightMbs)
      val nMbs = wMbs * hMbs
      val lumaW = wMbs * 16; val lumaH = hMbs * 16
      val y = new Array[Byte](lumaW * lumaH)
      val cb = new Array[Byte](lumaW * lumaH / 4)
      val cr = new Array[Byte](lumaW * lumaH / 4)
      var mb = 0
      while (mb < nMbs) {
        if (br.ue() != 25) return None // I_PCM only; entropy-coded mbs bail
        val py = br.bytes(256) // byteAligns first (pcm_alignment_zero_bit)
        val pcb = br.bytes(64)
        val pcr = br.bytes(64)
        val mbX = (mb % wMbs) * 16; val mbY = (mb / wMbs) * 16
        var r = 0
        while (r < 16) {
          System.arraycopy(py, r * 16, y, (mbY + r) * lumaW + mbX, 16)
          r += 1
        }
        r = 0
        val chrW = lumaW / 2
        while (r < 8) {
          System.arraycopy(pcb, r * 8, cb, (mbY / 2 + r) * chrW + mbX / 2, 8)
          System.arraycopy(pcr, r * 8, cr, (mbY / 2 + r) * chrW + mbX / 2, 8)
          r += 1
        }
        mb += 1
      }
      // crop, upsample chroma (nearest), BT.601 full-range YCbCr → RGB
      val (w, h) = (sps.width, sps.height)
      val px = new Array[Int](w * h)
      val chrW = lumaW / 2
      var yy = 0
      while (yy < h) {
        val sy = yy + 2 * sps.cropT
        var xx = 0
        while (xx < w) {
          val sx = xx + 2 * sps.cropL
          val yv = y(sy * lumaW + sx) & 0xff
          val cbv = (cb((sy / 2) * chrW + sx / 2) & 0xff) - 128
          val crv = (cr((sy / 2) * chrW + sx / 2) & 0xff) - 128
          def clamp(v: Double): Int = math.max(0, math.min(255, math.round(v).toInt))
          val rr = clamp(yv + 1.402 * crv)
          val gg = clamp(yv - 0.344136 * cbv - 0.714136 * crv)
          val bb = clamp(yv + 1.772 * cbv)
          px(yy * w + xx) = (rr << 16) | (gg << 8) | bb
          xx += 1
        }
        yy += 1
      }
      Some((w, h, px))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode the first IDR keyframe of an AVCC-framed sample (the mp4
    * `mdat` layout: [lengthSize-byte big-endian length][NAL]…) using
    * the avcC-carried SPS/PPS. None unless the frame is I_PCM-coded
    * start to finish.
    */
  private[operators] def decodeAvccSample(spsBytes: Array[Byte],
      ppsBytes: Array[Byte], sample: Array[Byte], lengthSize: Int)
      : Option[(Int, Int, Array[Int])] =
    for {
      sps <- parseSps(unescapeRbsp(spsBytes, 1))
      pps <- parsePps(unescapeRbsp(ppsBytes, 1))
      idr <- firstNalOfType(sample, lengthSize, 5)
      out <- decodeIdrIPcm(sps, pps, idr)
    } yield out

  /** First NAL of `typ` in an AVCC-framed sample, header byte included. */
  private def firstNalOfType(sample: Array[Byte], lengthSize: Int,
      typ: Int): Option[Array[Byte]] = {
    if (lengthSize < 1 || lengthSize > 4) return None
    var off = 0
    while (off + lengthSize <= sample.length) {
      var len = 0L
      var i = 0
      while (i < lengthSize) { len = (len << 8) | (sample(off + i) & 0xff); i += 1 }
      val start = off + lengthSize
      if (len < 1 || start + len > sample.length) return None
      if ((sample(start) & 0x1f) == typ)
        return Some(java.util.Arrays.copyOfRange(sample, start, (start + len).toInt))
      off = (start + len).toInt
    }
    None
  }
}
