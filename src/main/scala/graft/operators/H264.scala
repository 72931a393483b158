package graft.operators

import scala.collection.mutable.ArrayBuffer

/** H.264/AVC Annex-B bitstream METADATA layer: NAL unit scanning
  * (3- and 4-byte start codes), emulation-prevention de-escaping,
  * and Exp-Golomb SPS parsing to (profile, level, width, height) —
  * the `ffprobe`-shaped surface over the one codec family whose
  * PIXEL decode stays out of scope (entropy-coded macroblock
  * reconstruction; every other media family in
  * [[Multimodal]] decodes end-to-end). Demux→bitstream→parameter
  * sets is real: stream geometry comes out of the same ue(v)/crop
  * arithmetic a conformant decoder runs, and the gate breaks if the
  * start-code scanner, the 00 00 03 unescape, or any Exp-Golomb
  * field slips by one bit.
  *
  * The write side ([[synthesizeH264Stream]]) emits conformant
  * SPS/PPS/slice NALs with REAL emulation prevention (payloads
  * contain 00 00 0x patterns that must be escaped or the NAL scan
  * would split them) — the parser is only honest because the writer
  * makes the hazards real. Reference anchor: the loader moves opaque
  * media bytes exactly like rows (AbstractClickhouseLoaderMapper
  * .java:159-248 readRowRecord); metadata extraction is the
  * engine-side extension.
  */
object H264 {

  // ---------------------------------------------------------------
  // bit I/O
  // ---------------------------------------------------------------

  private final class BitWriter {
    private val bytes = new ArrayBuffer[Byte]()
    private var cur = 0
    private var nBits = 0

    def u(v: Int, bits: Int): Unit = {
      var b = bits - 1
      while (b >= 0) {
        cur = (cur << 1) | ((v >>> b) & 1)
        nBits += 1
        if (nBits == 8) { bytes += cur.toByte; cur = 0; nBits = 0 }
        b -= 1
      }
    }

    /** Exp-Golomb unsigned: ⌊log2(x+1)⌋ zeros then binary(x+1). */
    def ue(x: Int): Unit = {
      val v = x + 1
      val len = 32 - Integer.numberOfLeadingZeros(v)
      u(0, len - 1)
      u(v, len)
    }

    def se(x: Int): Unit = ue(if (x <= 0) -2 * x else 2 * x - 1)

    /** pcm_alignment_zero_bit(s): pad to a byte boundary. */
    def alignZero(): Unit = while (nBits != 0) u(0, 1)

    /** rbsp_stop_one_bit + zero padding to a byte boundary. */
    def stop(): Array[Byte] = {
      u(1, 1)
      if (nBits > 0) u(0, 8 - nBits)
      bytes.toArray
    }

    /** Bits written so far as a '0'/'1' string (spec hook). */
    def bitString: String = {
      val sb = new StringBuilder
      bytes.foreach { b =>
        (7 to 0 by -1).foreach(i => sb.append((b >> i) & 1))
      }
      (nBits - 1 to 0 by -1).foreach(i => sb.append((cur >> i) & 1))
      sb.toString
    }
  }

  private final class BitReader(bytes: Array[Byte]) {
    private var pos = 0

    def u(bits: Int): Int = {
      var v = 0
      var i = 0
      while (i < bits) {
        val byteIdx = pos >>> 3
        if (byteIdx >= bytes.length) throw new IllegalStateException("EOS")
        val bit = (bytes(byteIdx) >>> (7 - (pos & 7))) & 1
        v = (v << 1) | bit
        pos += 1
        i += 1
      }
      v
    }

    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        if (zeros > 31) throw new IllegalStateException("bad ue")
      }
      (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }

    def se(): Int = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }

    /** Skip pcm_alignment_zero_bit(s) to the next byte boundary. */
    def alignToByte(): Unit = pos = (pos + 7) & ~7

    // bit index of the rbsp_stop_one_bit (the last set bit)
    private lazy val lastOne: Int = {
      var i = bytes.length * 8 - 1
      while (i >= 0 && ((bytes(i >>> 3) >>> (7 - (i & 7))) & 1) == 0) i -= 1
      i
    }

    /** more_rbsp_data(): payload bits remain before the stop bit. */
    def moreRbsp: Boolean = pos < lastOne
  }

  // ---------------------------------------------------------------
  // emulation prevention (00 00 00/01/02/03 → 00 00 03 0x)
  // ---------------------------------------------------------------

  private def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](rbsp.length + 8)
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xFF) <= 3) { out += 3; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  private def unescape(nal: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = nal(i)
      if (b == 3 && zeros >= 2) zeros = 0 // emulation-prevention byte: drop
      else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  // ---------------------------------------------------------------
  // write side
  // ---------------------------------------------------------------

  /** Baseline-profile SPS for an even (w, h) with 4:2:0 cropping. */
  private def spsRbsp(w: Int, h: Int, levelIdc: Int,
      maxRefs: Int = 1): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0, "even dimensions (4:2:0 crop units)")
    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    val bw = new BitWriter
    bw.u(66, 8)            // profile_idc: baseline
    bw.u(0, 8)             // constraint flags + reserved
    bw.u(levelIdc, 8)
    bw.ue(0)               // seq_parameter_set_id
    bw.ue(0)               // log2_max_frame_num_minus4
    bw.ue(2)               // pic_order_cnt_type
    bw.ue(maxRefs)         // max_num_ref_frames
    bw.u(0, 1)             // gaps_in_frame_num_value_allowed_flag
    bw.ue(mbW - 1)         // pic_width_in_mbs_minus1
    bw.ue(mbH - 1)         // pic_height_in_map_units_minus1
    bw.u(1, 1)             // frame_mbs_only_flag
    bw.u(0, 1)             // direct_8x8_inference_flag
    val cropR = (mbW * 16 - w) / 2
    val cropB = (mbH * 16 - h) / 2
    if (cropR > 0 || cropB > 0) {
      bw.u(1, 1)           // frame_cropping_flag
      bw.ue(0); bw.ue(cropR); bw.ue(0); bw.ue(cropB)
    } else bw.u(0, 1)
    bw.u(0, 1)             // vui_parameters_present_flag
    bw.stop()
  }

  private def ppsRbsp(weightedPred: Boolean = false,
      wBipredIdc: Int = 0): Array[Byte] = {
    val bw = new BitWriter
    bw.ue(0)               // pic_parameter_set_id
    bw.ue(0)               // seq_parameter_set_id
    bw.u(0, 1)             // entropy_coding_mode_flag (CAVLC)
    bw.u(0, 1)             // bottom_field_pic_order_in_frame_present_flag
    bw.ue(0)               // num_slice_groups_minus1
    bw.ue(0); bw.ue(0)     // num_ref_idx_l{0,1}_active_minus1
    bw.u(if (weightedPred) 1 else 0, 1) // weighted_pred_flag
    bw.u(wBipredIdc, 2)    // weighted_bipred_idc
    bw.se(0); bw.se(0)     // pic_init_qp/qs_minus26
    bw.se(0)               // chroma_qp_index_offset
    bw.u(1, 1)             // deblocking_filter_control_present_flag
    bw.u(0, 1)             // constrained_intra_pred_flag
    bw.u(0, 1)             // redundant_pic_cnt_present_flag
    bw.stop()
  }

  /** Annex-B stream: 4-byte start code before SPS, 3-byte before the
    * rest (both scanner paths are live). Slice f carries
    * `1 + (seed + f) % 19` payload bytes: byte j is ZERO when
    * `(seed + f + j) % 5 < 3` (adjacent zero RUNS — emulation
    * prevention genuinely fires) and `(seed*7 + f*3 + j) % 256`
    * otherwise. First slice is IDR (type 5).
    */
  def synthesizeH264Stream(w: Int, h: Int, levelIdc: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    def start4(): Unit = out ++= Array[Byte](0, 0, 0, 1)
    def start3(): Unit = out ++= Array[Byte](0, 0, 1)
    start4()
    out += 0x67.toByte // nal_ref_idc=3, type=7 (SPS)
    out ++= escape(spsRbsp(w, h, levelIdc))
    start3()
    out += 0x68.toByte // type=8 (PPS)
    out ++= escape(ppsRbsp())
    (0 until nFrames).foreach { f =>
      start3()
      out += (if (f == 0) 0x65 else 0x41).toByte // IDR / non-IDR slice
      val sz = 1 + ((seed + f) % 19).toInt
      val payload = Array.tabulate(sz) { j =>
        if ((seed + f + j) % 5 < 3) 0.toByte
        else ((seed * 7 + f * 3 + j) % 256).toByte
      }
      // rbsp-trailing-bits-style terminator: keeps the NAL's last byte
      // nonzero so the start-code scan has no trailing-zero ambiguity
      out ++= escape(payload :+ 0x80.toByte)
    }
    out.toArray
  }

  // ---------------------------------------------------------------
  // parse side
  // ---------------------------------------------------------------

  final case class StreamMeta(
      profileIdc: Int, levelIdc: Int, width: Int, height: Int,
      nNals: Int, nIdr: Int, nSlices: Int, sliceChecksum: Long)

  /** Start-code NAL scan for container muxing ([[Multimodal
    * .synthesizeMp4Avc1]] re-frames these as AVCC length-prefixed
    * samples): (start, end) byte ranges with the header byte at
    * start.
    */
  private[graft] def nalUnits(p: Array[Byte]): Seq[(Int, Int)] =
    scanNals(p).toSeq

  /** Start-code scan → (nalStart, nalEnd) pairs; header byte at
    * nalStart. Handles any number of leading zeros before 01.
    */
  private def scanNals(p: Array[Byte]): ArrayBuffer[(Int, Int)] = {
    val nals = new ArrayBuffer[(Int, Int)]()
    var i = 0
    var cur = -1
    var zeros = 0
    while (i < p.length) {
      if (p(i) == 0) { zeros += 1 }
      else if (p(i) == 1 && zeros >= 2) {
        if (cur >= 0) nals += ((cur, i - math.min(zeros, 3)))
        cur = i + 1
        zeros = 0
      } else zeros = 0
      i += 1
    }
    if (cur >= 0) nals += ((cur, p.length))
    nals
  }

  private final case class SpsInfo(profile: Int, level: Int,
      width: Int, height: Int, mbW: Int, mbH: Int)

  /** SPS RBSP parse; None for shapes out of scope (scaling matrices,
    * POC type 1).
    */
  private def parseSps(r: BitReader): Option[SpsInfo] = {
    val profile = r.u(8)
    r.u(8) // constraint flags
    val level = r.u(8)
    r.ue() // sps id
    if (profile == 100 || profile == 110 || profile == 122 ||
      profile == 244 || profile == 44 || profile == 83 ||
      profile == 86 || profile == 118 || profile == 128) {
      val chroma = r.ue()
      if (chroma == 3) r.u(1)
      r.ue(); r.ue() // bit depths
      r.u(1) // qpprime
      if (r.u(1) == 1) return None // scaling matrices unsupported
    }
    r.ue() // log2_max_frame_num_minus4
    val poc = r.ue()
    if (poc == 0) r.ue()
    else if (poc == 1) return None // delta POC lists unsupported
    r.ue() // max_num_ref_frames
    r.u(1)
    val mbW = r.ue() + 1
    val mbH = r.ue() + 1
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1)
    r.u(1) // direct_8x8
    var w = mbW * 16
    var h = mbH * 16 * (2 - frameMbsOnly)
    if (r.u(1) == 1) { // cropping
      val l = r.ue(); val rr = r.ue(); val t = r.ue(); val b = r.ue()
      w -= 2 * (l + rr)
      h -= 2 * (t + b) * (2 - frameMbsOnly)
    }
    Some(SpsInfo(profile, level, w, h, mbW, mbH))
  }

  /** Scan NAL units between start codes (00 00 01 with any number of
    * leading zeros), de-escape each, parse the SPS, and checksum the
    * slice payloads weighted by slice index — None on any structural
    * violation (no SPS, bad Exp-Golomb, truncation).
    */
  def parseStream(p: Array[Byte]): Option[StreamMeta] = {
    try {
      val nals = scanNals(p)
      if (nals.isEmpty) return None
      var sps: Option[SpsInfo] = None
      var nIdr = 0
      var nSlices = 0
      var sliceIdx = 0
      var checksum = 0L
      nals.foreach { case (s, e) =>
        val nalType = p(s) & 0x1F
        nalType match {
          case 7 =>
            sps = parseSps(new BitReader(unescape(p, s + 1, e)))
            if (sps.isEmpty) return None
          case 5 | 1 =>
            if (nalType == 5) nIdr += 1
            nSlices += 1
            sliceIdx += 1
            val payload = unescape(p, s + 1, e)
            if (payload.isEmpty || payload.last != 0x80.toByte) return None
            var acc = 0L
            payload.dropRight(1).foreach(b => acc += (b & 0xFF))
            checksum += sliceIdx * acc
          case _ => ()
        }
      }
      sps.map { i =>
        StreamMeta(i.profile, i.level, i.width, i.height,
          nals.length, nIdr, nSlices, checksum)
      }
    } catch { case _: IllegalStateException => None }
  }

  // ---------------------------------------------------------------
  // I_PCM pixel path
  // ---------------------------------------------------------------

  /** Conformant IDR I-slices made entirely of I_PCM macroblocks —
    * the H.264 macroblock type that carries RAW 4:2:0 samples
    * (mb_type 25 in I slices, pcm_alignment_zero_bit, 256 luma +
    * 2×64 chroma bytes). Any conformant decoder must reconstruct
    * these bit-exactly, which makes them the honest first rung of
    * H.26x PIXEL decode: real slice headers, real byte-alignment
    * rules, real emulation prevention over the sample bytes — only
    * entropy-coded residual decode (CAVLC/CABAC) remains beyond.
    * Luma(px,py) of frame f = (seed + f + px + 2·py) % 251; chroma
    * Cb = (seed + f + 2·cx + cy) % 251, Cr = (3·seed + f + cx + 2·cy)
    * % 251 on the half-res grid — zero runs occur, so escaping fires.
    */
  def synthesizeH264IPcm(mbW: Int, mbH: Int, nFrames: Int, seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    (0 until nFrames).foreach { f =>
      out ++= Array[Byte](0, 0, 1)
      out += 0x65.toByte // IDR slice
      val bw = new BitWriter
      bw.ue(0)        // first_mb_in_slice
      bw.ue(7)        // slice_type: I (all slices in pic)
      bw.ue(0)        // pic_parameter_set_id
      bw.u(0, 4)      // frame_num (log2_max_frame_num = 4)
      bw.ue(f)        // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // dec_ref_pic_marking (IDR): no_output, no long-term
      bw.se(0)        // slice_qp_delta
      bw.ue(1)        // disable_deblocking_filter_idc = 1 (off; no offsets)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(25)   // mb_type: I_PCM
          bw.alignZero()
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val px = mx * 16 + x; val py = my * 16 + y
              bw.u(((seed + f + px + 2 * py) % 251).toInt, 8)
              x += 1
            }
            y += 1
          }
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              val cpx = mx * 8 + cx; val cpy = my * 8 + cy
              bw.u(((seed + f + 2 * cpx + cpy) % 251).toInt, 8)
              cx += 1
            }
            cy += 1
          }
          cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              val cpx = mx * 8 + cx; val cpy = my * 8 + cy
              bw.u(((3 * seed + f + cpx + 2 * cpy) % 251).toInt, 8)
              cx += 1
            }
            cy += 1
          }
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  // ---------------------------------------------------------------
  // CAVLC 4x4-intra pixel path
  // ---------------------------------------------------------------

  /** CAVLC VLC tables (ITU-T H.264 Table 9-5 / 9-7 / 9-10), the
    * subset a 4x4-intra synthesizer emits: coeff_token for the
    * 0 ≤ nC < 2 context with TotalCoeff ≤ 5 (extension to the other
    * nC classes and TotalCoeff 16 is mechanical table entry — the
    * decoder returns None on an unknown code instead of guessing),
    * total_zeros for TotalCoeff 1..7, run_before complete. Codes are
    * bit-strings because clarity beats micro-optimizing a table that
    * decodes a handful of symbols per 4x4 block; validated by the
    * published worked example (coeffs 0,3,0,1,-1,-1,0,1 →
    * 000010001110010111101101), prefix-freeness checks, and
    * encode↔decode round-trips in H264Spec.
    */
  private val coeffTokenNc01: Map[(Int, Int), String] = Map(
    (0, 0) -> "1",
    (0, 1) -> "000101", (1, 1) -> "01",
    (0, 2) -> "00000111", (1, 2) -> "000100", (2, 2) -> "001",
    (0, 3) -> "000000111", (1, 3) -> "00000110", (2, 3) -> "0000101",
    (3, 3) -> "00011",
    (0, 4) -> "0000000111", (1, 4) -> "000000110", (2, 4) -> "00000101",
    (3, 4) -> "000011",
    (0, 5) -> "00000000111", (1, 5) -> "0000000110", (2, 5) -> "000000101",
    (3, 5) -> "0000100")

  /** coeff_token for 2 ≤ nC < 4 (same Table 9-5, the context AC-level
    * streams reach once neighbor TotalCoeffs exceed 1). The q150
    * streams use rows (0,1) and (2,2); all rows here are validated by
    * prefix-freeness + round-trip (no published worked example pins
    * this class the way the nC<2 one is pinned).
    */
  private val coeffTokenNc23: Map[(Int, Int), String] = Map(
    (0, 0) -> "11",
    (0, 1) -> "001011", (1, 1) -> "10",
    (0, 2) -> "000111", (1, 2) -> "00111", (2, 2) -> "011",
    (0, 3) -> "0000111", (1, 3) -> "001010", (2, 3) -> "001001",
    (3, 3) -> "0101",
    (0, 4) -> "00000111", (1, 4) -> "000110", (2, 4) -> "000101",
    (3, 4) -> "0100",
    (0, 5) -> "00000100", (1, 5) -> "0000110", (2, 5) -> "0000101",
    (3, 5) -> "00110")

  private def coeffTokenTable(nC: Int): Map[(Int, Int), String] =
    if (nC < 2) coeffTokenNc01 else coeffTokenNc23

  /** coeff_token for the CHROMA DC 2x2 blocks (Table 9-5, nC == -1
    * column, 4:2:0 — TotalCoeff ≤ 4). The last CAVLC table class a
    * 4:2:0 intra stream needs; validated by prefix-freeness +
    * round-trip (H264Spec) like the nC ≥ 2 classes.
    */
  private val coeffTokenChromaDc: Map[(Int, Int), String] = Map(
    (0, 0) -> "01",
    (0, 1) -> "000111", (1, 1) -> "1",
    (0, 2) -> "000100", (1, 2) -> "000110", (2, 2) -> "001",
    (0, 3) -> "000011", (1, 3) -> "0000011", (2, 3) -> "0000010",
    (3, 3) -> "000101",
    (0, 4) -> "000010", (1, 4) -> "00000011", (2, 4) -> "00000010",
    (3, 4) -> "0000000")

  /** total_zeros for chroma DC (Table 9-9(a), maxNumCoeff 4),
    * [TotalCoeff 1..3][tz].
    */
  private val chromaTotalZerosTab: Array[Array[String]] = Array(
    Array("1", "01", "001", "000"),
    Array("1", "01", "00"),
    Array("1", "0"))

  /** total_zeros[TotalCoeff 1..7][tz]. */
  private val totalZerosTab: Array[Array[String]] = Array(
    Array("1", "011", "010", "0011", "0010", "00011", "00010", "000011",
      "000010", "0000011", "0000010", "00000011", "00000010", "000000011",
      "000000010", "000000001"),
    Array("111", "110", "101", "100", "011", "0101", "0100", "0011", "0010",
      "00011", "00010", "000011", "000010", "000001", "000000"),
    Array("0101", "111", "110", "101", "0100", "0011", "100", "011", "0010",
      "00011", "00010", "000001", "00001", "000000"),
    Array("00011", "111", "0101", "0100", "110", "101", "100", "0011", "011",
      "0010", "00010", "00001", "00000"),
    Array("0101", "0100", "0011", "111", "110", "101", "100", "011", "0010",
      "00001", "0001", "00000"),
    Array("000001", "00001", "111", "110", "101", "100", "011", "010", "0001",
      "001", "000000"),
    Array("000001", "00001", "101", "100", "011", "11", "010", "0001", "001",
      "000000"))

  /** run_before[min(zerosLeft,7)-1][run]; zerosLeft ≥ 7 row appends
    * (run−4) zeros + 1 for run > 6.
    */
  private val runBeforeTab: Array[Array[String]] = Array(
    Array("1", "0"),
    Array("1", "01", "00"),
    Array("11", "10", "01", "00"),
    Array("11", "10", "01", "001", "000"),
    Array("11", "10", "011", "010", "001", "000"),
    Array("11", "000", "001", "011", "010", "101", "100"),
    Array("111", "110", "101", "100", "011", "010", "001"))

  private[graft] def tableForSpec(name: String): Seq[Seq[String]] =
    name match {
      case "coeff_token" =>
        Seq(coeffTokenNc01.values.toSeq, coeffTokenNc23.values.toSeq,
          coeffTokenChromaDc.values.toSeq)
      case "total_zeros" => totalZerosTab.map(_.toSeq).toSeq
      case "chroma_total_zeros" => chromaTotalZerosTab.map(_.toSeq).toSeq
      case "run_before"  => runBeforeTab.map(_.toSeq).toSeq
      case _ => Seq.empty
    }

  private def writeCode(bw: BitWriter, code: String): Unit =
    code.foreach(c => bw.u(c - '0', 1))

  /** Read one VLC symbol by longest-prefix match over `codes`
    * (prefix-free, so first match is THE match); None after maxLen.
    */
  private def readVlc(r: BitReader, codes: Map[String, Int],
      maxLen: Int): Option[Int] = {
    val sb = new StringBuilder
    while (sb.length < maxLen) {
      sb.append(('0' + r.u(1)).toChar)
      codes.get(sb.toString) match {
        case Some(v) => return Some(v)
        case None => ()
      }
    }
    None
  }

  /** 4x4 zigzag scan: scan index → raster index (row*4+col). */
  private val zigzag4x4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** Spec hooks: CAVLC block coder over bit strings, and the
    * dequant+IDCT kernel, so H264Spec can pin the published worked
    * example and round-trip/independent-simulation properties without
    * exposing the bit I/O classes.
    */
  private[graft] def encodeBlockBits(coeffs: Array[Int], nC: Int = 0): String = {
    val bw = new BitWriter
    encodeCoeffBlock(bw, coeffs, nC)
    bw.bitString
  }

  private[graft] def decodeBlockBits(bits: String,
      nC: Int = 0): Option[Array[Int]] = {
    val bw = new BitWriter
    bits.foreach(c => bw.u(c - '0', 1))
    bw.u(0, 16) // tail padding so short VLC reads never hit EOS early
    val padded = bw.stop()
    try decodeCoeffBlock(new BitReader(padded), nC)
    catch { case _: IllegalStateException => None }
  }

  private[graft] def dequantIdctForSpec(scan: Array[Int], qp: Int): Array[Int] =
    dequantIdct4x4(scan, qp)

  private[graft] def encodeChromaBits(coeffs: Array[Int]): String = {
    val bw = new BitWriter
    encodeChromaDcBlock(bw, coeffs)
    bw.bitString
  }

  private[graft] def decodeChromaBits(bits: String): Option[Array[Int]] = {
    val bw = new BitWriter
    bits.foreach(c => bw.u(c - '0', 1))
    bw.u(0, 16)
    val padded = bw.stop()
    try decodeChromaDcBlock(new BitReader(padded))
    catch { case _: IllegalStateException => None }
  }

  private[graft] def chromaDcDequantForSpec(c: Array[Int], qpc: Int): Array[Int] =
    chromaDcDequant(c, qpc)

  private[graft] def dequantIdctChromaForSpec(dcC: Int, ac15: Array[Int],
      qpc: Int): Array[Int] =
    dequantIdctChroma(dcC, ac15, qpc)

  private[graft] def lumaDcDequantForSpec(c16: Array[Int], qp: Int): Array[Int] =
    lumaDcDequant(c16, qp)

  private[graft] def encodeBlockBits15(coeffs: Array[Int], nC: Int): String = {
    val bw = new BitWriter
    encodeCoeffBlock(bw, coeffs, nC, maxCoeff = 15)
    bw.bitString
  }

  private[graft] def decodeBlockBits15(bits: String, nC: Int): Option[Array[Int]] = {
    val bw = new BitWriter
    bits.foreach(c => bw.u(c - '0', 1))
    bw.u(0, 16)
    val padded = bw.stop()
    try decodeCoeffBlock(new BitReader(padded), nC, maxCoeff = 15)
    catch { case _: IllegalStateException => None }
  }

  /** CAVLC-encode one 4x4 block's coefficients (zigzag-scan order,
    * length 16) for context nC < 4. Emitter caps: TotalCoeff ≤ 5,
    * |level| ≤ 7 (keeps level_prefix in the non-escape range).
    */
  private[operators] def encodeCoeffBlock(bw: BitWriter,
      coeffs: Array[Int], nC: Int = 0, maxCoeff: Int = 16): Unit = {
    require(coeffs.length == maxCoeff, "scan length == maxNumCoeff")
    val nz = coeffs.zipWithIndex.filter(_._1 != 0)
    val tc = nz.length
    require(tc <= 5, s"TotalCoeff $tc beyond table subset")
    require(nC < 4 || nC >= 8,
      s"nC $nC in the [4,8) VLC class — table not entered (see decode note)")
    var t1 = 0
    while (t1 < math.min(3, tc) && math.abs(nz(tc - 1 - t1)._1) == 1) t1 += 1
    if (nC >= 8) bw.u(if (tc == 0) 3 else 4 * (tc - 1) + t1, 6) // FLC class
    else writeCode(bw, coeffTokenTable(nC)((t1, tc)))
    if (tc == 0) return
    // trailing-one signs, highest scan position first
    (0 until t1).foreach(i => bw.u(if (nz(tc - 1 - i)._1 < 0) 1 else 0, 1))
    // remaining levels, highest scan position first
    var suffixLength = 0
    var i = t1
    while (i < tc) {
      val level = nz(tc - 1 - i)._1
      require(math.abs(level) <= 7, s"level $level beyond emitter cap")
      var levelCode = if (level > 0) 2 * level - 2 else -2 * level - 1
      if (i == t1 && t1 < 3) levelCode -= 2
      if (suffixLength == 0) {
        require(levelCode < 14, "level_prefix escape out of emitter scope")
        bw.u(0, levelCode); bw.u(1, 1)
      } else {
        val prefix = levelCode >> suffixLength
        require(prefix < 15, "level_prefix escape out of emitter scope")
        bw.u(0, prefix); bw.u(1, 1)
        bw.u(levelCode & ((1 << suffixLength) - 1), suffixLength)
      }
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    if (tc < maxCoeff) {
      val tz = nz.last._2 + 1 - tc
      writeCode(bw, totalZerosTab(tc - 1)(tz))
      var zerosLeft = tz
      var j = tc - 1
      while (zerosLeft > 0 && j > 0) {
        val run = nz(j)._2 - nz(j - 1)._2 - 1
        if (zerosLeft <= 6) writeCode(bw, runBeforeTab(zerosLeft - 1)(run))
        else if (run <= 6) writeCode(bw, runBeforeTab(6)(run))
        else { bw.u(0, run - 4); bw.u(1, 1) }
        zerosLeft -= run
        j -= 1
      }
    }
  }

  /** CAVLC-decode one 4x4 block (context nC < 4) to zigzag-scan
    * coefficients; None on any code outside the table subset.
    */
  private[operators] def decodeCoeffBlock(r: BitReader,
      nC: Int = 0, maxCoeff: Int = 16): Option[Array[Int]] = {
    // nC ≥ 8 is the fixed-length class — fully algorithmic (6-bit
    // code, value 4·(TC−1)+T1, TC = 0 coded as 3). The 4 ≤ nC < 8 VLC
    // column is deliberately NOT entered: unlike the FLC rule and the
    // nC < 4 columns (worked-example- and structure-validated), there
    // is no way to validate a from-memory transcription of that
    // column here, and a plausible-but-wrong table is worse than an
    // honest refusal.
    if (nC >= 4 && nC < 8) return None
    val (t1, tc) =
      if (nC >= 8) {
        val v = r.u(6)
        if (v == 3) (0, 0)
        else {
          val (q, m) = (v / 4 + 1, v % 4)
          if (m > math.min(3, v / 4 + 1)) return None
          (m, q)
        }
      } else {
        val tokenCodes = coeffTokenTable(nC)
          .map { case ((t1, tc), c) => c -> (t1 * 32 + tc) }
        val token = readVlc(r, tokenCodes, 16).getOrElse(return None)
        (token / 32, token % 32)
      }
    val out = Array.fill(maxCoeff)(0)
    if (tc == 0) return Some(out)
    val levels = new Array[Int](tc) // index 0 = highest scan position
    (0 until t1).foreach(i => levels(i) = if (r.u(1) == 1) -1 else 1)
    var suffixLength = 0
    var i = t1
    while (i < tc) {
      var prefix = 0
      while (r.u(1) == 0) {
        prefix += 1
        if (prefix > 32) return None
      }
      var levelCode =
        if (suffixLength == 0) {
          if (prefix < 14) prefix
          else if (prefix == 14) 14 + r.u(4)
          else 30 + r.u(12)
        } else {
          if (prefix < 15) (prefix << suffixLength) + r.u(suffixLength)
          else (15 << suffixLength) + r.u(12)
        }
      if (i == t1 && t1 < 3) levelCode += 2
      levels(i) =
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(levels(i)) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    var tz = 0
    if (tc < maxCoeff) {
      if (tc > 7) return None // Table 9-8 rows out of subset
      val tzCodes = totalZerosTab(tc - 1).zipWithIndex.map {
        case (c, v) => c -> v
      }.toMap
      tz = readVlc(r, tzCodes, 16).getOrElse(return None)
      // the 16-coeff table codes tz up to 16-tc; a 15-coeff block
      // (chroma AC) must refuse the one value that lands past its
      // last scan position instead of writing out of bounds
      if (tc - 1 + tz >= maxCoeff) return None
    }
    // place levels: walk from the highest scan position down
    var pos = tc - 1 + tz
    var zerosLeft = tz
    var j = 0
    while (j < tc) {
      out(pos) = levels(j)
      if (j < tc - 1) {
        var run = 0
        if (zerosLeft > 0) {
          if (zerosLeft <= 6) {
            val codes = runBeforeTab(zerosLeft - 1).zipWithIndex.map {
              case (c, v) => c -> v
            }.toMap
            run = readVlc(r, codes, 12).getOrElse(return None)
          } else {
            // zerosLeft > 6: 3-bit codes for run 0..6, unary beyond
            val first = (r.u(1) << 2) | (r.u(1) << 1) | r.u(1)
            if (first != 0) run = 7 - first
            else {
              run = 7
              while (r.u(1) == 0) { run += 1; if (run > 16) return None }
            }
          }
          // a crafted stream can code a run past the remaining zeros;
          // that would drive the landing index negative — refuse
          if (run > zerosLeft) return None
        }
        zerosLeft -= run
        pos -= run + 1
      }
      j += 1
    }
    // the zeros never consumed by run_before all sit below the lowest
    // coefficient, so its landing index must equal what's left
    if (tc < maxCoeff && pos != zerosLeft) return None
    Some(out)
  }

  /** CAVLC-encode one chroma DC 2x2 block (coefficients in the DC
    * scan order c(0,0), c(0,1), c(1,0), c(1,1)): coeff_token from the
    * nC == -1 column, then the same trailing-one/level machinery as
    * 4x4, total_zeros from Table 9-9(a) (maxNumCoeff 4), run_before
    * from the shared table. |level| ≤ 7 emitter cap as for luma.
    */
  private[operators] def encodeChromaDcBlock(bw: BitWriter,
      coeffs: Array[Int]): Unit = {
    require(coeffs.length == 4, "chroma DC block is 2x2")
    val nz = coeffs.zipWithIndex.filter(_._1 != 0)
    val tc = nz.length
    var t1 = 0
    while (t1 < math.min(3, tc) && math.abs(nz(tc - 1 - t1)._1) == 1) t1 += 1
    writeCode(bw, coeffTokenChromaDc((t1, tc)))
    if (tc == 0) return
    (0 until t1).foreach(i => bw.u(if (nz(tc - 1 - i)._1 < 0) 1 else 0, 1))
    var suffixLength = 0
    var i = t1
    while (i < tc) {
      val level = nz(tc - 1 - i)._1
      require(math.abs(level) <= 7, s"level $level beyond emitter cap")
      var levelCode = if (level > 0) 2 * level - 2 else -2 * level - 1
      if (i == t1 && t1 < 3) levelCode -= 2
      if (suffixLength == 0) {
        require(levelCode < 14, "level_prefix escape out of emitter scope")
        bw.u(0, levelCode); bw.u(1, 1)
      } else {
        val prefix = levelCode >> suffixLength
        require(prefix < 15, "level_prefix escape out of emitter scope")
        bw.u(0, prefix); bw.u(1, 1)
        bw.u(levelCode & ((1 << suffixLength) - 1), suffixLength)
      }
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(level) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    if (tc < 4) {
      val tz = nz.last._2 + 1 - tc
      writeCode(bw, chromaTotalZerosTab(tc - 1)(tz))
      var zerosLeft = tz
      var j = tc - 1
      while (zerosLeft > 0 && j > 0) {
        val run = nz(j)._2 - nz(j - 1)._2 - 1
        writeCode(bw, runBeforeTab(zerosLeft - 1)(run))
        zerosLeft -= run
        j -= 1
      }
    }
  }

  /** CAVLC-decode one chroma DC 2x2 block to the 4 DC-scan
    * coefficients; None outside the table subset.
    */
  private[operators] def decodeChromaDcBlock(r: BitReader): Option[Array[Int]] = {
    val tokenCodes = coeffTokenChromaDc
      .map { case ((t1, tc), c) => c -> (t1 * 32 + tc) }
    val token = readVlc(r, tokenCodes, 16).getOrElse(return None)
    val t1 = token / 32
    val tc = token % 32
    val out = Array.fill(4)(0)
    if (tc == 0) return Some(out)
    val levels = new Array[Int](tc)
    (0 until t1).foreach(i => levels(i) = if (r.u(1) == 1) -1 else 1)
    var suffixLength = 0
    var i = t1
    while (i < tc) {
      var prefix = 0
      while (r.u(1) == 0) {
        prefix += 1
        if (prefix > 32) return None
      }
      var levelCode =
        if (suffixLength == 0) {
          if (prefix < 14) prefix
          else if (prefix == 14) 14 + r.u(4)
          else 30 + r.u(12)
        } else {
          if (prefix < 15) (prefix << suffixLength) + r.u(suffixLength)
          else (15 << suffixLength) + r.u(12)
        }
      if (i == t1 && t1 < 3) levelCode += 2
      levels(i) =
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(levels(i)) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    var tz = 0
    if (tc < 4) {
      val tzCodes = chromaTotalZerosTab(tc - 1).zipWithIndex.map {
        case (c, v) => c -> v
      }.toMap
      tz = readVlc(r, tzCodes, 8).getOrElse(return None)
    }
    var pos = tc - 1 + tz
    var zerosLeft = tz
    var j = 0
    while (j < tc) {
      out(pos) = levels(j)
      if (j < tc - 1) {
        var run = 0
        if (zerosLeft > 0) {
          val codes = runBeforeTab(zerosLeft - 1).zipWithIndex.map {
            case (c, v) => c -> v
          }.toMap
          run = readVlc(r, codes, 12).getOrElse(return None)
          if (run > zerosLeft) return None
        }
        zerosLeft -= run
        pos -= run + 1
      }
      j += 1
    }
    if (tc < 4 && pos != zerosLeft) return None
    Some(out)
  }

  /** Chroma DC 2x2 inverse Hadamard + dequant (8.5.11 in this file's
    * dequant convention — see [[dequantIdct4x4]]'s V-table scaling):
    * f(i,j) = Σ c·(±1) butterflies, dcC = (f · V(qpc%6) << (qpc/6)) >> 1.
    * Returns the 4 per-block DCs in (i,j) raster order, each ready to
    * drive a DC-only 4x4 block's flat residual (dcC + 32) >> 6.
    */
  private[operators] def chromaDcDequant(c: Array[Int], qpc: Int): Array[Int] = {
    val v = Array(10, 11, 13, 14, 16, 18)(qpc % 6)
    val s = qpc / 6
    val out = new Array[Int](4)
    var i = 0
    while (i < 4) {
      val si = if (i / 2 == 0) 1 else -1
      val sj = if (i % 2 == 0) 1 else -1
      val f = c(0) + c(1) * sj + c(2) * si + c(3) * si * sj
      out(i) = ((f * v) << s) >> 1
      i += 1
    }
    out
  }

  /** Luma 4x4 DC inverse Hadamard + dequant for Intra_16x16
    * macroblocks (§8.5.10 in this file's V-table convention — the
    * file's LevelScale is 16·v, so the spec's >> (6 − qP/6) rounding
    * keeps its published shift): input `c16` is the DC coefficient
    * array in RASTER (i,j) order (c(i,j) = DC of the 4x4 block at
    * block column j, block row i), output the 16 dequantized DCs in
    * the same order, each ready to preset a 4x4 block's d(0,0)
    * (the 4x4 rescale bypasses position 0, as chroma does).
    */
  private[operators] def lumaDcDequant(c16: Array[Int], qp: Int): Array[Int] = {
    require(c16.length == 16, "luma DC array is 4x4")
    val v = Array(10, 11, 13, 14, 16, 18)(qp % 6)
    val f = c16.clone()
    // 4x4 inverse Hadamard: the ±1 butterfly along rows then columns
    def core(a: Array[Int], stride: Int, base: Int): Unit = {
      val d0 = a(base); val d1 = a(base + stride)
      val d2 = a(base + 2 * stride); val d3 = a(base + 3 * stride)
      val t0 = d0 + d2; val t1 = d0 - d2
      val t2 = d1 - d3; val t3 = d1 + d3
      a(base) = t0 + t3; a(base + stride) = t1 + t2
      a(base + 2 * stride) = t1 - t2; a(base + 3 * stride) = t0 - t3
    }
    (0 until 4).foreach(row => core(f, 1, row * 4))
    (0 until 4).foreach(col => core(f, 4, col))
    f.map { x =>
      val ls = x * v * 16
      if (qp >= 36) ls << (qp / 6 - 6)
      else (ls + (1 << (5 - qp / 6))) >> (6 - qp / 6)
    }
  }

  /** Chroma 4x4 residual: AC coefficients (zigzag scan positions
    * 1..15, 15 entries) dequantized with the 4x4 V-table, the DC slot
    * preset to the ALREADY-DEQUANTIZED `dcC` from the 2x2 Hadamard
    * stage (8.5.11: chroma DC bypasses the 4x4 rescale), then the
    * integer inverse transform — raster-order spatial residuals.
    * Intra_16x16 luma AC blocks run the SAME §8.5.12 path with the
    * §8.5.10-dequantized luma DC preset, so [[decodeCavlcIntra]]'s
    * I_16x16 branch calls this with the luma qp.
    */
  private[operators] def dequantIdctChroma(dcC: Int, ac15: Array[Int],
      qpc: Int): Array[Int] = {
    require(ac15.length == 15, "chroma AC block has 15 coefficients")
    val vTab = Array(
      Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
      Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))
    val m = qpc % 6
    val d = new Array[Int](16)
    d(0) = dcC
    var s = 1
    while (s < 16) {
      val r = zigzag4x4(s)
      val (i, j) = (r / 4, r % 4)
      val cls =
        if (i % 2 == 0 && j % 2 == 0) 0
        else if (i % 2 == 1 && j % 2 == 1) 1
        else 2
      val ls = ac15(s - 1) * vTab(m)(cls) * 16
      d(r) =
        if (qpc >= 24) ls << (qpc / 6 - 4)
        else (ls + (1 << (3 - qpc / 6))) >> (4 - qpc / 6)
      s += 1
    }
    def core(v: Array[Int], stride: Int, base: Int): Unit = {
      val d0 = v(base); val d1 = v(base + stride)
      val d2 = v(base + 2 * stride); val d3 = v(base + 3 * stride)
      val t0 = d0 + d2; val t1 = d0 - d2
      val t2 = (d1 >> 1) - d3; val t3 = d1 + (d3 >> 1)
      v(base) = t0 + t3; v(base + stride) = t1 + t2
      v(base + 2 * stride) = t1 - t2; v(base + 3 * stride) = t0 - t3
    }
    (0 until 4).foreach(row => core(d, 1, row * 4))
    (0 until 4).foreach(col => core(d, 4, col))
    d.map(x => (x + 32) >> 6)
  }

  /** Chroma QP from luma QP (Table 8-15, chroma_qp_index_offset 0). */
  private[graft] def chromaQp(qp: Int): Int =
    if (qp < 30) qp
    else Array(29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37,
      37, 38, 38, 38, 39, 39, 39, 39)(math.min(qp, 51) - 30)

  /** Dequant (flat scaling matrices) + integer inverse 4x4 transform
    * (8.5.12): returns 16 spatial residuals in raster order. Exact
    * spec arithmetic — V-table by (qp%6, position class), << (qp/6)
    * for qp ≥ 24 and the rounding shift below, row/column butterflies
    * with the d1>>1 floor, final (x+32)>>6.
    */
  private[operators] def dequantIdct4x4(scan: Array[Int], qp: Int): Array[Int] = {
    val vTab = Array(
      Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
      Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))
    val m = qp % 6
    val d = new Array[Int](16)
    var s = 0
    while (s < 16) {
      val r = zigzag4x4(s)
      val (i, j) = (r / 4, r % 4)
      val cls =
        if (i % 2 == 0 && j % 2 == 0) 0
        else if (i % 2 == 1 && j % 2 == 1) 1
        else 2
      val ls = scan(s) * vTab(m)(cls) * 16 // flat weightScale 16
      d(r) =
        if (qp >= 24) ls << (qp / 6 - 4)
        else (ls + (1 << (3 - qp / 6))) >> (4 - qp / 6)
      s += 1
    }
    def core(v: Array[Int], stride: Int, base: Int): Unit = {
      val d0 = v(base); val d1 = v(base + stride)
      val d2 = v(base + 2 * stride); val d3 = v(base + 3 * stride)
      val t0 = d0 + d2; val t1 = d0 - d2
      val t2 = (d1 >> 1) - d3; val t3 = d1 + (d3 >> 1)
      v(base) = t0 + t3; v(base + stride) = t1 + t2
      v(base + 2 * stride) = t1 - t2; v(base + 3 * stride) = t0 - t3
    }
    (0 until 4).foreach(row => core(d, 1, row * 4))    // horizontal
    (0 until 4).foreach(col => core(d, 4, col))        // vertical
    d.map(x => (x + 32) >> 6)
  }

  private def clip255(v: Int): Int = math.max(0, math.min(255, v))

  /** Z-scan of 4x4 luma blocks in a macroblock: blkIdx → (x, y) in
    * 4-px units (residual and mb_pred both walk this order).
    */
  private val zScan4x4: Array[(Int, Int)] = Array(
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3))

  /** Inverse of [[zScan4x4]]: (zy*4 + zx) → scan position. Drives the
    * decode-order availability test for diagonal intra prediction
    * (a block's top-RIGHT neighbor may come later in z order — e.g.
    * block (1,1) precedes (2,0)'s... no: (2,0) at scan 4 follows
    * (1,1) at scan 3 — so the neighbor is unavailable and §8.3.1.2's
    * substitution rule fires).
    */
  private val zIndexOf4x4: Array[Int] = {
    val inv = new Array[Int](16)
    zScan4x4.zipWithIndex.foreach { case ((zx, zy), i) => inv(zy * 4 + zx) = i }
    inv
  }

  /** Intra mode of block (bx, by) in the synthesized frames: DC for
    * the top-left block (no neighbors → pred 128), VERTICAL down the
    * left column, HORIZONTAL elsewhere — a spanning tree with ONE
    * parent per block, so each flat block's value is the parent's
    * value plus the block's own DC residual and the frame has a
    * closed-form pixel sum (the q149 oracle re-derives it in SQL).
    */
  private def synthMode(bx: Int, by: Int): Int =
    if (bx == 0 && by == 0) 2 else if (bx == 0) 0 else 1

  /** DC level of block (bx, by) in frame f: drawn from {-2,-1,1,2}
    * (never 0, so cbp is always 15 and every block exercises the
    * CAVLC path). At QP 24 these dequantize to flat residuals
    * {-5,-2,+3,+5} — bounded drift, no clipping at gate block counts.
    */
  private def synthLevel(seed: Long, f: Int, bx: Int, by: Int): Int =
    Array(-2, -1, 1, 2)(((seed + f * 11 + bx * 7 + by * 5) % 4).toInt)

  /** Conformant IDR I-slices of I_4x4 macroblocks with CAVLC-coded
    * DC-only residuals (QP 24 via slice_qp_delta): real mode
    * signaling (most-probable-mode rule), coded_block_pattern me(v),
    * coeff_token / level / total_zeros VLCs, emulation prevention.
    * One MB per row (width 16) so the flat-block value chain is a
    * tree, giving the closed-form oracle. The remaining H.26x caveat
    * narrows to entropy-coded inter/CABAC decode.
    */
  def synthesizeH264Cavlc(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames, synthMode,
      (f, bx, by) => {
        val scan = Array.fill(16)(0)
        scan(0) = synthLevel(seed, f, bx, by)
        scan
      })

  /** The four AC coefficient vectors of [[synthesizeH264CavlcAc]],
    * zigzag-scan order, confined to raster row 0 (scan positions
    * 0, 1, 5, 6) so the IDCT output is COLUMN-CONSTANT: the column
    * transform of [d, 0, 0, 0] replicates d down the column, which is
    * what keeps the q150 oracle closed-form (per-pixel-column scalar
    * chains under VERTICAL prediction). Levels span the CAVLC paths a
    * flat-DC stream never hits in-stream: a non-±1 level (k=0),
    * double trailing-ones at tz 0 / 4 / 5 with run_before gaps
    * (k=1/2/3). |IDCT| ≤ 6 per step keeps every chain clip-free.
    */
  private val acScanVectors: Array[Array[Int]] = {
    def vec(entries: (Int, Int)*): Array[Int] = {
      val a = Array.fill(16)(0)
      entries.foreach { case (p, v) => a(p) = v }
      a
    }
    Array(
      vec(0 -> 2),           // TC=1, T1=0: level prefix/suffix path
      vec(0 -> -1, 1 -> 1),  // TC=2, T1=2, total_zeros=0
      vec(0 -> 1, 5 -> -1),  // TC=2, T1=2, tz=4, run_before run=4
      vec(1 -> 1, 6 -> -1))  // TC=2, T1=2, tz=5, run_before run=4
  }

  private[graft] def acVectorForSpec(k: Int): Array[Int] =
    acScanVectors(k).clone()

  /** AC-level CAVLC streams: same I_4x4 skeleton as
    * [[synthesizeH264Cavlc]] but each block carries one of
    * [[acScanVectors]] (chosen by the same %4 index), with DC
    * prediction along the top block row and VERTICAL below — the
    * column-constant residuals then make every pixel column an
    * independent scalar chain (q150's closed-form oracle). Neighbor
    * TotalCoeffs now reach 2, so blocks genuinely exercise the
    * 2 ≤ nC < 4 coeff_token table in-stream.
    */
  def synthesizeH264CavlcAc(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames,
      (bx, by) => if (by > 0) 0 else 2, // DC top row, VERTICAL below
      (f, bx, by) =>
        acScanVectors(((seed + f * 11 + bx * 7 + by * 5) % 4).toInt))

  /** The four chroma DC 2x2 level vectors of
    * [[synthesizeH264ChromaDc]] (DC scan order c(0,0), c(0,1),
    * c(1,0), c(1,1)), spanning the nC == -1 coeff_token rows a
    * DC-only chroma stream can reach: a lone non-±1 level (k=0),
    * two trailing ones (k=1), the full TC=4/T1=3 row (k=2), and a
    * zeros/run_before path with total_zeros = 2 (k=3). At QP 24 each
    * dequantizes (dcC = 80·f) to the flat per-quadrant residuals
    * [[chromaQuadResiduals]] — pinned against [[chromaDcDequant]] by
    * H264Spec, hard-coded by the q156 oracle.
    */
  private val chromaDcVectors: Array[Array[Int]] = Array(
    Array(2, 0, 0, 0),
    Array(-1, 1, 0, 0),
    Array(2, 1, -1, 1),
    Array(0, 2, 0, -1))

  /** Per-vector flat residuals of the four 4x4 chroma blocks in
    * quadrant (i, j) raster order — (dcC + 32) >> 6 of the Hadamard +
    * dequant of [[chromaDcVectors]] at QP 24.
    */
  private[graft] val chromaQuadResiduals: Array[Array[Int]] = Array(
    Array(3, 3, 3, 3),
    Array(0, -2, 0, -2),
    Array(4, -1, 4, 4),
    Array(1, -1, 4, -4))

  private[graft] def chromaDcVectorForSpec(k: Int): Array[Int] =
    chromaDcVectors(k).clone()

  /** Chroma-residual streams: the q149 flat-luma skeleton plus a
    * CAVLC-coded chroma DC 2x2 block per plane per MB (cbp 31) — the
    * nC == -1 coeff_token class and the 2x2 inverse Hadamard
    * in-stream. Quadrant values stay flat, so the chroma planes chain
    * in closed form exactly like the luma blocks (q156's oracle).
    */
  def synthesizeH264ChromaDc(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames, synthMode,
      (f, bx, by) => {
        val scan = Array.fill(16)(0)
        scan(0) = synthLevel(seed, f, bx, by)
        scan
      },
      (f, my, pl) =>
        chromaDcVectors(((seed + f * 11 + my * 5 + pl * 3) % 4).toInt))

  /** The four chroma AC coefficient vectors of
    * [[synthesizeH264ChromaAc]] (15 entries, zigzag scan 1..15),
    * confined to raster row 0 (scan 1, 5, 6 → raster 1, 2, 3) so the
    * AC contribution is COLUMN-CONSTANT — combined with the flat
    * per-quadrant DC from the 2x2 stage, every chroma pixel of
    * quadrant q, column x is `pred + combined(k, q, x)` and the
    * q159 oracle stays closed-form. Level/zeros coverage: a non-±1
    * level (k=0), double trailing-ones with run_before gaps 3 and 4
    * (k=1, k=2), and adjacent top-position coefficients with a
    * zero-run code (k=3).
    */
  private val chromaAcVectors: Array[Array[Int]] = {
    def vec(entries: (Int, Int)*): Array[Int] = {
      val a = Array.fill(15)(0)
      entries.foreach { case (p, v) => a(p - 1) = v }
      a
    }
    Array(
      vec(1 -> 2),
      vec(1 -> -1, 5 -> 1),
      vec(1 -> 1, 6 -> -1),
      vec(5 -> 1, 6 -> 1))
  }

  private[graft] def chromaAcVectorForSpec(k: Int): Array[Int] =
    chromaAcVectors(k).clone()

  /** Per-(k, quadrant, column) combined chroma residuals at QP 24:
    * `(dcC(quad) + acRowIdct(x) + 32) >> 6` with the DC from
    * [[chromaDcVectors]](k) and the AC from [[chromaAcVectors]](k) —
    * pinned against the real pipeline by H264Spec, hard-coded (as
    * row sums) by the q159 oracle.
    */
  private[graft] lazy val chromaAcCombined: Array[Array[Array[Int]]] =
    Array.tabulate(4) { k =>
      val dcs = chromaDcDequant(chromaDcVectors(k), 24)
      Array.tabulate(4) { q =>
        val res = dequantIdctChroma(dcs(q), chromaAcVectors(k), 24)
        Array.tabulate(4)(x => res(x)) // column-constant: row 0 suffices
      }
    }

  /** Chroma-AC streams (cbp 47): the q156 skeleton plus four
    * CAVLC-coded chroma AC blocks per plane per MB through the
    * nC < 4 coeff_token tables with REAL per-plane neighbor contexts
    * — the complete 4:2:0 intra chroma residual path.
    */
  def synthesizeH264ChromaAc(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames, synthMode,
      (f, bx, by) => {
        val scan = Array.fill(16)(0)
        scan(0) = synthLevel(seed, f, bx, by)
        scan
      },
      (f, my, pl) =>
        chromaDcVectors(((seed + f * 11 + my * 5 + pl * 3) % 4).toInt),
      (f, my, pl) =>
        chromaAcVectors(((seed + f * 11 + my * 5 + pl * 3) % 4).toInt))

  /** Intra mode of block (bx, by) in the DIAGONAL streams: every
    * block picks from the modes its neighbors permit — top row
    * horizontal/DC, left column vertical/DC/down-left, interior all
    * five (vertical, horizontal, DC, diagonal down-left, diagonal
    * down-right) — so the lattice exercises both diagonal equations
    * AND the top-right availability/substitution logic (right-column
    * blocks and the late-z interior blocks substitute p[3,-1]).
    */
  private[graft] def synthDiagMode(seed: Long)(bx: Int, by: Int): Int =
    if (bx == 0 && by == 0) 2
    else if (by == 0) Array(1, 2)(((seed + bx) % 2).toInt)
    else if (bx == 0) Array(0, 2, 3)(((seed + by) % 3).toInt)
    else Array(0, 1, 2, 3, 4)(((seed + 3L * bx + 7L * by) % 5).toInt)

  /** I_4x4 streams over the full in-subset intra mode set including
    * the two DIAGONAL modes, with the q150 AC residual vectors (so
    * CAVLC, mode signaling, and diagonal prediction compose
    * in-stream). Pixel chains under diagonal mixing have no closed
    * form — H264Spec pins decode against an independent simulation
    * (the q183 pattern); the gate oracles the syntax layer
    * (n_levels from the residual lattice — any mode-parse error
    * desyncs the bitstream and fails it).
    */
  def synthesizeH264IntraDiag(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames, synthDiagMode(seed),
      (f, bx, by) => acScanVectors(((seed + f * 11 + bx * 7 + by * 5) % 4).toInt))

  /** Intra mode of block (bx, by) in the FULL-mode streams: the
    * lattice draws from every mode the block's neighbors permit
    * ([[intra4x4Needs]]) — top row left-only modes {H, DC, HU}, left
    * column top-only modes {V, DC, DDL, VL}, interior ALL NINE — so
    * angular modes 5-8 run against real reconstructed neighbors and
    * modes 3/7 still cross the top-right availability machinery.
    */
  private[graft] def synthFullMode(seed: Long)(bx: Int, by: Int): Int =
    if (bx == 0 && by == 0) 2
    else if (by == 0) Array(1, 2, 8)(((seed + bx) % 3).toInt)
    else if (bx == 0) Array(0, 2, 3, 7)(((seed + by) % 4).toInt)
    else ((seed + 3L * bx + 7L * by) % 9).toInt

  /** I_4x4 streams over the COMPLETE §8.3.1.2 intra mode set — the
    * q189 diagonal skeleton widened to the four angular modes 5-8
    * (vertical-right, horizontal-down, vertical-left, horizontal-up)
    * — with the q150 AC residual vectors. Pixel chains have no closed
    * form; H264Spec pins decode against an independent reconstruction
    * plus hand-derived per-mode matrices, and the gate oracles the
    * syntax layer (n_levels — a mode mis-parse desyncs the stream).
    */
  def synthesizeH264IntraFull(mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthIntraStream(mbH, nFrames, synthFullMode(seed),
      (f, bx, by) => acScanVectors(((seed + f * 11 + bx * 7 + by * 5) % 4).toInt))

  /** Macroblock kind of (mx, my) in frame f of the MIXED streams:
    * 0 = I_4x4 (cbp 15), 1 = I_16x16 with CodedBlockPatternLuma 0
    * (DC residual only), 2 = I_16x16 with CodedBlockPatternLuma 15.
    */
  private[graft] def synthMbKind(seed: Long)(f: Int, mx: Int, my: Int): Int =
    ((seed + f * 7 + mx * 3 + my * 5) % 3).toInt

  /** Intra_16x16 prediction mode of MB (mx, my): drawn from the modes
    * its frame neighbors permit — vertical needs the row above,
    * horizontal the column left, plane both plus the corner.
    */
  private[graft] def synthI16Mode(seed: Long)(f: Int, mx: Int, my: Int): Int = {
    val allowed =
      if (mx == 0 && my == 0) Array(2)
      else if (my == 0) Array(1, 2)
      else if (mx == 0) Array(0, 2)
      else Array(0, 1, 2, 3)
    allowed(((seed + f + 2L * mx + 3L * my) % allowed.length).toInt)
  }

  /** The two Intra16x16DCLevel scan vectors (16-coeff CAVLC block):
    * k = 0 a lone level 2 (TotalCoeff 1), k = 1 a level/trailing-one
    * pair (TotalCoeff 2) whose Hadamard lights half the DC lattice.
    */
  private[graft] def i16DcVector(k: Int): Array[Int] = {
    val a = Array.fill(16)(0)
    if (k == 0) a(0) = 2 else { a(0) = 1; a(1) = -1 }
    a
  }

  /** The four Intra16x16ACLevel scan vectors (15 coefficients,
    * positions 1..15 of the zigzag): TotalCoeff 1 for k = 0 and 2
    * otherwise — the same level-count lattice as [[acVectorForSpec]]
    * so the syntax-layer oracle keeps the q189/q190 closed form.
    */
  private[graft] def i16AcVector(k: Int): Array[Int] = {
    val a = Array.fill(15)(0)
    k match {
      case 0 => a(0) = 2
      case 1 => a(0) = -1; a(1) = 1
      case 2 => a(0) = 1; a(4) = -1
      case _ => a(1) = 1; a(5) = -1
    }
    a
  }

  /** MIXED intra streams: I_4x4 macroblocks (full 9-mode lattice,
    * cbp 15) interleaved with I_16x16 macroblocks (Table 7-11
    * mb_type, §8.3.2 prediction incl. PLANE, Intra16x16DCLevel
    * through the §8.5.10 Hadamard, optional 15-coeff AC blocks) on an
    * mbW x mbH frame — so cross-mb_type neighbor machinery genuinely
    * runs: I_16x16 blocks feed DC (mode 2) into I_4x4
    * most-probable-mode derivation and their AC TotalCoeffs into the
    * shared nC context grid, and I_16x16 prediction reads pixels
    * reconstructed by I_4x4 neighbors. Chroma rides prediction-only
    * (cbpChroma 0 everywhere): flat 128, closed form.
    */
  def synthesizeH264Intra16(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    (0 until nFrames).foreach { f =>
      out ++= Array[Byte](0, 0, 1)
      out += 0x65.toByte
      val bw = new BitWriter
      bw.ue(0)        // first_mb_in_slice
      bw.ue(7)        // slice_type: I (all slices in pic)
      bw.ue(0)        // pic_parameter_set_id
      bw.u(0, 4)      // frame_num
      bw.ue(f)        // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // dec_ref_pic_marking
      bw.se(-2)       // slice_qp_delta: SliceQPy = 24
      bw.ue(1)        // disable_deblocking_filter_idc
      val bW = mbW * 4; val bH = mbH * 4
      val modes = Array.fill(bW, bH)(-1)
      val tcs = Array.fill(bW, bH)(0)
      def nCOf(bx: Int, by: Int): Int = {
        val nA = if (bx == 0) -1 else tcs(bx - 1)(by)
        val nB = if (by == 0) -1 else tcs(bx)(by - 1)
        if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
        else if (nA >= 0) nA
        else if (nB >= 0) nB
        else 0
      }
      (0 until mbH).foreach { my =>
        (0 until mbW).foreach { mx =>
          val kind = synthMbKind(seed)(f, mx, my)
          if (kind == 0) {
            bw.ue(0) // mb_type: I_NxN
            zScan4x4.foreach { case (zx, zy) =>
              val (bx, by) = (mx * 4 + zx, my * 4 + zy)
              val mode =
                if (bx == 0 && by == 0) 2
                else if (by == 0) Array(1, 2, 8)(((seed + bx) % 3).toInt)
                else if (bx == 0) Array(0, 2, 3, 7)(((seed + by) % 4).toInt)
                else ((seed + 3L * bx + 7L * by) % 9).toInt
              val mA = if (bx == 0) 2 else modes(bx - 1)(by)
              val mB = if (by == 0) 2 else modes(bx)(by - 1)
              val pred = math.min(mA, mB)
              if (mode == pred) bw.u(1, 1)
              else {
                bw.u(0, 1)
                bw.u(if (mode < pred) mode else mode - 1, 3)
              }
              modes(bx)(by) = mode
            }
            bw.ue(0) // intra_chroma_pred_mode: DC
            bw.ue(2) // cbp me(v) codeNum 2 → 15 (luma only)
            bw.se(0) // mb_qp_delta
            zScan4x4.foreach { case (zx, zy) =>
              val (bx, by) = (mx * 4 + zx, my * 4 + zy)
              val scan = acScanVectors(
                ((seed + f * 11 + bx * 7 + by * 5) % 4).toInt)
              encodeCoeffBlock(bw, scan, nCOf(bx, by))
              tcs(bx)(by) = scan.count(_ != 0)
            }
          } else {
            val i16Mode = synthI16Mode(seed)(f, mx, my)
            bw.ue((if (kind == 2) 13 else 1) + i16Mode) // mb_type
            bw.ue(0) // intra_chroma_pred_mode: DC
            bw.se(0) // mb_qp_delta (always present for I_16x16)
            val dcVec = i16DcVector(
              ((seed + f * 11 + mx * 7 + my * 5) % 2).toInt)
            encodeCoeffBlock(bw, dcVec, nCOf(mx * 4, my * 4))
            zScan4x4.foreach { case (zx, zy) =>
              val (bx, by) = (mx * 4 + zx, my * 4 + zy)
              if (kind == 2) {
                val ac = i16AcVector(
                  ((seed + f * 11 + bx * 7 + by * 5) % 4).toInt)
                encodeCoeffBlock(bw, ac, nCOf(bx, by), maxCoeff = 15)
                tcs(bx)(by) = ac.count(_ != 0)
              } else tcs(bx)(by) = 0
              modes(bx)(by) = 2 // non-I_4x4 neighbors read as DC
            }
          }
        }
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Shared I_4x4 stream writer: 16-wide frames (one MB per row), QP
    * 24, cbp 15, per-block modes/coefficients from the callbacks, nC
    * tracked with the same neighbor rule the decoder applies.
    */
  private def synthIntraStream(mbH: Int, nFrames: Int,
      modeOf: (Int, Int) => Int,
      scanOf: (Int, Int, Int) => Array[Int],
      chromaOf: (Int, Int, Int) => Array[Int] = null,
      chromaAcOf: (Int, Int, Int) => Array[Int] = null): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    (0 until nFrames).foreach { f =>
      out ++= Array[Byte](0, 0, 1)
      out += 0x65.toByte // IDR slice
      val bw = new BitWriter
      bw.ue(0)        // first_mb_in_slice
      bw.ue(7)        // slice_type: I (all slices in pic)
      bw.ue(0)        // pic_parameter_set_id
      bw.u(0, 4)      // frame_num
      bw.ue(f)        // idr_pic_id
      bw.u(0, 1); bw.u(0, 1) // dec_ref_pic_marking
      bw.se(-2)       // slice_qp_delta: SliceQPy = 26 - 2 = 24
      bw.ue(1)        // disable_deblocking_filter_idc
      val modes = Array.fill(4, 4 * mbH)(-1)
      val tcs = Array.fill(4, 4 * mbH)(0)
      // per-plane chroma AC TotalCoeff grids (2 blocks wide for the
      // 16-px frames, 2 per MB vertically) — the nC neighbor context
      // for chroma AC blocks crosses MB boundaries like luma's
      val cTcs = Array.fill(2, 2, 2 * mbH)(0)
      (0 until mbH).foreach { my =>
        bw.ue(0)      // mb_type: I_4x4 (I_NxN; no 8x8 transform in PPS)
        zScan4x4.foreach { case (zx, zy) =>
          val (bx, by) = (zx, my * 4 + zy)
          val mode = modeOf(bx, by)
          val mA = if (bx == 0) 2 else modes(bx - 1)(by)
          val mB = if (by == 0) 2 else modes(bx)(by - 1)
          val pred = math.min(mA, mB)
          if (mode == pred) bw.u(1, 1)
          else {
            bw.u(0, 1)
            bw.u(if (mode < pred) mode else mode - 1, 3)
          }
          modes(bx)(by) = mode
        }
        bw.ue(0)      // intra_chroma_pred_mode: DC
        // cbp me(v), Table 9-4 intra: codeNum 2 → 15 (luma only),
        // codeNum 1 → 31 (+ chroma DC), codeNum 0 → 47 (+ chroma AC)
        bw.ue(if (chromaAcOf != null) 0 else if (chromaOf != null) 1 else 2)
        bw.se(0)      // mb_qp_delta
        zScan4x4.foreach { case (zx, zy) =>
          val (bx, by) = (zx, my * 4 + zy)
          val scan = scanOf(f, bx, by)
          val nA = if (bx == 0) -1 else tcs(bx - 1)(by)
          val nB = if (by == 0) -1 else tcs(bx)(by - 1)
          val nC =
            if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
            else if (nA >= 0) nA
            else if (nB >= 0) nB
            else 0
          encodeCoeffBlock(bw, scan, nC)
          tcs(bx)(by) = scan.count(_ != 0)
        }
        // chroma residual: one CAVLC 2x2 DC block per plane, then
        // (cbp chroma 2) four AC blocks per plane in 2x2 raster order
        // with the real per-plane neighbor nC context
        if (chromaOf != null) {
          (0 until 2).foreach(pl => encodeChromaDcBlock(bw, chromaOf(f, my, pl)))
          if (chromaAcOf != null)
            (0 until 2).foreach { pl =>
              val ac = chromaAcOf(f, my, pl)
              Seq((0, 0), (1, 0), (0, 1), (1, 1)).foreach { case (cbx, rel) =>
                val cby = my * 2 + rel
                val nA = if (cbx == 0) -1 else cTcs(pl)(cbx - 1)(cby)
                val nB = if (cby == 0) -1 else cTcs(pl)(cbx)(cby - 1)
                val nC =
                  if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                  else if (nA >= 0) nA
                  else if (nB >= 0) nB
                  else 0
                encodeCoeffBlock(bw, ac, nC, maxCoeff = 15)
                cTcs(pl)(cbx)(cby) = ac.count(_ != 0)
              }
            }
        }
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  final case class CavlcFrames(
      nFrames: Int, width: Int, height: Int,
      lumaSum: Long, chromaSum: Long, weightedSum: Long, nLevels: Long)

  /** Neighbor requirements of intra 4x4 mode m: (needs left column,
    * needs top row). The corner p[-1,-1] is available whenever both
    * are (raster decode order), so modes 4/5/6 need no third flag;
    * mode 3/7's top-right reads go through the p[3,-1] substitution
    * when the top-right block is out of decode order (§8.3.1.2).
    */
  private[graft] def intra4x4Needs(m: Int): (Boolean, Boolean) = m match {
    case 0 => (false, true)          // vertical
    case 1 => (true, false)          // horizontal
    case 3 | 7 => (false, true)      // down-left / vertical-left
    case 4 | 5 | 6 => (true, true)   // down-right / vert-right / horiz-down
    case 8 => (true, false)          // horizontal-up
    case _ => (false, false)         // DC adapts to what exists
  }

  /** One predicted sample of intra 4x4 mode `mode` at block position
    * (x, y), ITU-T H.264 §8.3.1.2.2–.10. `tS(k)` is the top sample
    * p[k,-1] (k = -1 the corner; k in 4..7 already top-right-
    * substituted by the caller), `lS(k)` the left sample p[-1,k]
    * (k = -1 the corner). Availability of the sides the mode needs
    * ([[intra4x4Needs]]) is the CALLER's guard; hasL/hasT only drive
    * the DC mode's §8.3.1.2.3 fallback chain.
    */
  private[graft] def intra4x4PredPx(mode: Int, x: Int, y: Int,
      tS: Int => Int, lS: Int => Int, hasL: Boolean, hasT: Boolean): Int =
    mode match {
      case 0 => tS(x) // vertical
      case 1 => lS(y) // horizontal
      case 3 => // diagonal down-left (§8.3.1.2.4)
        if (x == 3 && y == 3) (tS(6) + 3 * tS(7) + 2) >> 2
        else (tS(x + y) + 2 * tS(x + y + 1) + tS(x + y + 2) + 2) >> 2
      case 4 => // diagonal down-right (§8.3.1.2.5)
        if (x > y)
          (tS(x - y - 2) + 2 * tS(x - y - 1) + tS(x - y) + 2) >> 2
        else if (x < y)
          (lS(y - x - 2) + 2 * lS(y - x - 1) + lS(y - x) + 2) >> 2
        else (tS(0) + 2 * tS(-1) + lS(0) + 2) >> 2
      case 5 => // vertical-right (§8.3.1.2.6), keyed by zVR = 2x - y
        val zVR = 2 * x - y
        val i = x - (y >> 1)
        if (zVR >= 0 && (zVR & 1) == 0) (tS(i - 1) + tS(i) + 1) >> 1
        else if (zVR >= 0) (tS(i - 2) + 2 * tS(i - 1) + tS(i) + 2) >> 2
        else if (zVR == -1) (lS(0) + 2 * tS(-1) + tS(0) + 2) >> 2
        else (lS(y - 1) + 2 * lS(y - 2) + lS(y - 3) + 2) >> 2
      case 6 => // horizontal-down (§8.3.1.2.7), keyed by zHD = 2y - x
        val zHD = 2 * y - x
        val i = y - (x >> 1)
        if (zHD >= 0 && (zHD & 1) == 0) (lS(i - 1) + lS(i) + 1) >> 1
        else if (zHD >= 0) (lS(i - 2) + 2 * lS(i - 1) + lS(i) + 2) >> 2
        else if (zHD == -1) (lS(0) + 2 * tS(-1) + tS(0) + 2) >> 2
        else (tS(x - 1) + 2 * tS(x - 2) + tS(x - 3) + 2) >> 2
      case 7 => // vertical-left (§8.3.1.2.8)
        val i = x + (y >> 1)
        if ((y & 1) == 0) (tS(i) + tS(i + 1) + 1) >> 1
        else (tS(i) + 2 * tS(i + 1) + tS(i + 2) + 2) >> 2
      case 8 => // horizontal-up (§8.3.1.2.9), keyed by zHU = x + 2y
        val zHU = x + 2 * y
        val i = y + (x >> 1)
        if (zHU > 5) lS(3)
        else if (zHU == 5) (lS(2) + 3 * lS(3) + 2) >> 2
        else if ((zHU & 1) == 0) (lS(i) + lS(i + 1) + 1) >> 1
        else (lS(i) + 2 * lS(i + 1) + lS(i + 2) + 2) >> 2
      case _ => // DC (§8.3.1.2.3)
        if (hasL && hasT) {
          var acc = 0
          var k = 0
          while (k < 4) { acc += lS(k) + tS(k); k += 1 }
          (acc + 4) >> 3
        } else if (hasL) {
          var acc = 0
          var k = 0
          while (k < 4) { acc += lS(k); k += 1 }
          (acc + 2) >> 2
        } else if (hasT) {
          var acc = 0
          var k = 0
          while (k < 4) { acc += tS(k); k += 1 }
          (acc + 2) >> 2
        } else 128
    }

  /** The 16x16 prediction plane of Intra_16x16 mode `mode`
    * (§8.3.2.1–.4): 0 vertical, 1 horizontal, 2 DC (with the
    * availability fallback chain), 3 plane. `tS(k)` is p[k,-1] for
    * k in 0..15 (k = -1 the corner), `lS(k)` is p[-1,k]. The caller
    * guards availability of the sides modes 0/1/3 need; hasL/hasT
    * drive only the DC fallback. Returns the 256 predictions in
    * raster order.
    */
  private[graft] def intra16Pred(mode: Int, tS: Int => Int, lS: Int => Int,
      hasL: Boolean, hasT: Boolean): Array[Int] = {
    val out = new Array[Int](256)
    mode match {
      case 0 =>
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) { out(y * 16 + x) = tS(x); x += 1 }
          y += 1
        }
      case 1 =>
        var y = 0
        while (y < 16) {
          val p = lS(y)
          var x = 0
          while (x < 16) { out(y * 16 + x) = p; x += 1 }
          y += 1
        }
      case 3 => // plane (§8.3.2.4)
        var hG = 0; var vG = 0
        var k = 0
        while (k < 8) {
          hG += (k + 1) * (tS(8 + k) - tS(6 - k))
          vG += (k + 1) * (lS(8 + k) - lS(6 - k))
          k += 1
        }
        val a = 16 * (lS(15) + tS(15))
        val b = (5 * hG + 32) >> 6
        val c = (5 * vG + 32) >> 6
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            out(y * 16 + x) =
              math.max(0, math.min(255, (a + b * (x - 7) + c * (y - 7) + 16) >> 5))
            x += 1
          }
          y += 1
        }
      case _ => // DC (§8.3.2.3)
        val dc =
          if (hasL && hasT)
            ((0 until 16).map(k => tS(k) + lS(k)).sum + 16) >> 5
          else if (hasL) ((0 until 16).map(lS).sum + 8) >> 4
          else if (hasT) ((0 until 16).map(tS).sum + 8) >> 4
          else 128
        java.util.Arrays.fill(out, dc)
    }
    out
  }

  /** Full pixel decode of a 4x4-intra CAVLC stream: slice headers,
    * per-MB mode derivation (most-probable-mode rule), cbp, CAVLC
    * residual with the REAL nC neighbor context, dequant + integer
    * inverse transform, intra prediction from the reconstructed frame
    * buffer, clip — plus chroma DC prediction (quadrant availability
    * rules) with no chroma residual. Intra luma: the COMPLETE 9-mode
    * set of §8.3.1.2 ([[intra4x4PredPx]]) — vertical, horizontal, DC,
    * both diagonals, and the four angular modes 5-8, with the
    * decode-order top-right availability test + p[3,-1] substitution
    * on the modes that read past the block. None on anything outside
    * the documented subset (non-I_4x4 mb_type, nC in [4,8) tokens,
    * TotalCoeff > 5 suffix rows): refuse rather than guess.
    */
  def decodeCavlcIntra(p: Array[Byte]): Option[CavlcFrames] = {
    try {
      val nals = scanNals(p)
      var sps: Option[SpsInfo] = None
      var nFrames = 0
      var lumaSum = 0L
      var chromaSum = 0L
      var weighted = 0L
      var nLevels = 0L
      nals.foreach { case (s, e) =>
        val nalType = p(s) & 0x1F
        nalType match {
          case 7 =>
            sps = parseSps(new BitReader(unescape(p, s + 1, e)))
            if (sps.isEmpty) return None
          case 5 =>
            val info = sps.getOrElse(return None)
            // a fuzzed SPS can Exp-Golomb-code absurd dimensions; the
            // frame buffer below must refuse before allocating
            if (info.mbW.toLong * info.mbH > (1 << 16)) return None
            val r = new BitReader(unescape(p, s + 1, e))
            r.ue()                       // first_mb_in_slice
            if (r.ue() % 5 != 2) return None // not an I slice
            r.ue()                       // pps id
            r.u(4)                       // frame_num
            r.ue()                       // idr_pic_id
            r.u(1); r.u(1)               // dec_ref_pic_marking
            var qp = 26 + r.se()         // slice_qp_delta
            if (r.ue() != 1) { r.se(); r.se() } // deblocking offsets
            val (w, h) = (info.mbW * 16, info.mbH * 16)
            val luma = Array.fill(h, w)(0)
            val cbP = Array.fill(h / 2, w / 2)(0)
            val crP = Array.fill(h / 2, w / 2)(0)
            val bW = info.mbW * 4
            val bH = info.mbH * 4
            val modes = Array.fill(bW, bH)(-1)
            val tcs = Array.fill(bW, bH)(0)
            // chroma AC TotalCoeff grids (per plane, frame-wide —
            // the nC context crosses MB boundaries)
            val cTcs = Array.fill(2, info.mbW * 2, info.mbH * 2)(0)
            var mbIdx = 0
            val nMbs = info.mbW * info.mbH
            while (mbIdx < nMbs) {
              val mx = mbIdx % info.mbW
              val my = mbIdx / info.mbW
              // mb_type (Table 7-11): 0 = I_NxN (I_4x4 here), 1..24 =
              // I_16x16 with (predMode, cbpChroma, cbpLuma) packed in
              // the index, 25 = I_PCM (decodeIPcm's stream class —
              // refused in this one)
              val mbType = r.ue()
              if (mbType > 24) return None
              val i16 = mbType != 0
              val mbModes = new Array[Int](16)
              var i = 0
              if (!i16) while (i < 16) {
                val (zx, zy) = zScan4x4(i)
                val (bx, by) = (mx * 4 + zx, my * 4 + zy)
                val mA = if (bx == 0) 2 else modes(bx - 1)(by)
                val mB = if (by == 0) 2 else modes(bx)(by - 1)
                val predMode = math.min(mA, mB)
                val mode =
                  if (r.u(1) == 1) predMode
                  else {
                    val rem = r.u(3)
                    if (rem < predMode) rem else rem + 1
                  }
                // rem_intra4x4_pred_mode is 3 bits, so mode ≤ 8: the
                // whole §8.3.1.2 index space is now decodable
                modes(bx)(by) = mode
                mbModes(i) = mode
                i += 1
              }
              if (r.ue() != 0) return None // chroma pred: DC only
              // I_16x16 has no coded_block_pattern syntax — both cbp
              // fields ride in mb_type (Table 7-11) — and always
              // carries mb_qp_delta (the DC block is always coded)
              val cbp =
                if (i16)
                  (((mbType - 1) / 4 % 3) << 4) |
                    (if ((mbType - 1) / 12 == 1) 15 else 0)
                else r.ue() match {
                  case 0 => 47 // luma 15 + chroma 2 (DC + AC residuals)
                  case 1 => 31 // luma 15 + chroma 1 (DC-only residual)
                  case 2 => 15
                  case 3 => 0
                  case _ => return None // chroma cbp out of subset
                }
              if (i16 || cbp != 0) qp += r.se() // mb_qp_delta
              if (i16) {
                // ---- Intra_16x16 luma: §7.3.5.3 residual order is
                // Intra16x16DCLevel (one 16-coeff CAVLC block with
                // the §9.2.1 block-0 neighbor context), then — cbp
                // luma 15 — sixteen 15-coeff AC blocks in z-scan
                // order; §8.5.10 Hadamard the DCs, preset each 4x4
                // block's d(0,0), §8.3.2 predict the whole plane from
                // frame neighbors, add, clip.
                val i16Mode = (mbType - 1) % 4
                val px0 = mx * 16; val py0 = my * 16
                val needL = i16Mode == 1 || i16Mode == 3
                val needT = i16Mode == 0 || i16Mode == 3
                if ((needL && px0 == 0) || (needT && py0 == 0)) return None
                val bx0 = mx * 4; val by0 = my * 4
                val nA0 = if (bx0 == 0) -1 else tcs(bx0 - 1)(by0)
                val nB0 = if (by0 == 0) -1 else tcs(bx0)(by0 - 1)
                val nC0 =
                  if (nA0 >= 0 && nB0 >= 0) (nA0 + nB0 + 1) >> 1
                  else if (nA0 >= 0) nA0
                  else if (nB0 >= 0) nB0
                  else 0
                if (nC0 >= 4) return None // [4,8) refusal as for I_4x4
                val dcScan = decodeCoeffBlock(r, nC0).getOrElse(return None)
                nLevels += dcScan.count(_ != 0)
                val dcRaster = new Array[Int](16)
                var s2 = 0
                while (s2 < 16) {
                  dcRaster(zigzag4x4(s2)) = dcScan(s2)
                  s2 += 1
                }
                val dcY = lumaDcDequant(dcRaster, qp)
                val cbpLuma = (cbp & 15) != 0
                val blockRes = Array.ofDim[Array[Int]](16)
                var bi = 0
                while (bi < 16) {
                  val (zx, zy) = zScan4x4(bi)
                  val (bx, by) = (bx0 + zx, by0 + zy)
                  val dc = dcY(zy * 4 + zx)
                  if (cbpLuma) {
                    val nA = if (bx == 0) -1 else tcs(bx - 1)(by)
                    val nB = if (by == 0) -1 else tcs(bx)(by - 1)
                    val nC =
                      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                      else if (nA >= 0) nA
                      else if (nB >= 0) nB
                      else 0
                    if (nC >= 4) return None
                    val ac = decodeCoeffBlock(r, nC, maxCoeff = 15)
                      .getOrElse(return None)
                    val tc = ac.count(_ != 0)
                    tcs(bx)(by) = tc
                    nLevels += tc
                    blockRes(bi) = dequantIdctChroma(dc, ac, qp)
                  } else {
                    tcs(bx)(by) = 0
                    blockRes(bi) = Array.fill(16)((dc + 32) >> 6)
                  }
                  // §8.3.1.1: a neighbor block in a non-I_4x4 MB
                  // contributes DC to most-probable-mode derivation
                  modes(bx)(by) = 2
                  bi += 1
                }
                def tS16(k: Int): Int =
                  if (k < 0) luma(py0 - 1)(px0 - 1) else luma(py0 - 1)(px0 + k)
                def lS16(k: Int): Int =
                  if (k < 0) luma(py0 - 1)(px0 - 1) else luma(py0 + k)(px0 - 1)
                val pred = intra16Pred(i16Mode, tS16, lS16, px0 > 0, py0 > 0)
                bi = 0
                while (bi < 16) {
                  val (zx, zy) = zScan4x4(bi)
                  val res = blockRes(bi)
                  var y = 0
                  while (y < 4) {
                    var x = 0
                    while (x < 4) {
                      val gx = zx * 4 + x; val gy = zy * 4 + y
                      luma(py0 + gy)(px0 + gx) =
                        clip255(pred(gy * 16 + gx) + res(y * 4 + x))
                      x += 1
                    }
                    y += 1
                  }
                  bi += 1
                }
              }
              i = 0
              while (!i16 && i < 16) {
                val (zx, zy) = zScan4x4(i)
                val (bx, by) = (mx * 4 + zx, my * 4 + zy)
                val coeffs =
                  if ((cbp & (1 << (i / 4))) != 0) {
                    val nA = if (bx == 0) -1 else tcs(bx - 1)(by)
                    val nB = if (by == 0) -1 else tcs(bx)(by - 1)
                    val nC =
                      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                      else if (nA >= 0) nA
                      else if (nB >= 0) nB
                      else 0
                    if (nC >= 4) return None // nC ≥ 4 tables out of subset
                    decodeCoeffBlock(r, nC).getOrElse(return None)
                  } else Array.fill(16)(0)
                val tc = coeffs.count(_ != 0)
                tcs(bx)(by) = tc
                nLevels += tc
                val res =
                  if (tc == 0) Array.fill(16)(0)
                  else dequantIdct4x4(coeffs, qp)
                val (px, py) = (bx * 4, by * 4)
                val mode = mbModes(i)
                // top-right block availability for diagonal modes:
                // in-frame AND earlier in decode order (raster MBs +
                // z-scan inside the MB) — §8.3.1.2 substitutes
                // p[3,-1] for p[4..7,-1] when it isn't
                val iz = i
                val trAvail = by > 0 && (bx + 1) < bW && {
                  val nbx = bx + 1; val nby = by - 1
                  val nMb = (nby / 4) * info.mbW + (nbx / 4)
                  nMb < mbIdx || (nMb == mbIdx &&
                    zIndexOf4x4((nby % 4) * 4 + (nbx % 4)) < iz)
                }
                val (needsL, needsT) = intra4x4Needs(mode)
                if ((needsL && px == 0) || (needsT && py == 0)) return None
                // top samples p[k,-1] (k = -1 → the corner); k in
                // 4..7 reads the top-right block or its p[3,-1]
                // substitute
                def tS(k: Int): Int =
                  if (k < 0) luma(py - 1)(px - 1)
                  else if (k <= 3 || trAvail) luma(py - 1)(px + k)
                  else luma(py - 1)(px + 3)
                def lS(k: Int): Int =
                  if (k < 0) luma(py - 1)(px - 1)
                  else luma(py + k)(px - 1)
                var y = 0
                while (y < 4) {
                  var x = 0
                  while (x < 4) {
                    val predPx =
                      intra4x4PredPx(mode, x, y, tS, lS, px > 0, py > 0)
                    luma(py + y)(px + x) = clip255(predPx + res(y * 4 + x))
                    x += 1
                  }
                  y += 1
                }
                i += 1
              }
              // chroma residual (residual() order: both planes' 2x2
              // DC blocks, then — cbp chroma 2 — each plane's four AC
              // blocks in 2x2 raster order with the real per-plane
              // neighbor nC context). DC-only blocks reduce to the
              // flat (dcC + 32) >> 6; AC blocks run the full
              // dequant + inverse transform with the preset DC.
              val chromaRes: Array[Array[Array[Int]]] =
                if ((cbp >> 4) == 0)
                  Array.fill(2)(Array.fill(4)(Array.fill(16)(0)))
                else {
                  val qpc = chromaQp(qp)
                  val dcs = Array.tabulate(2) { _ =>
                    val c = decodeChromaDcBlock(r).getOrElse(return None)
                    nLevels += c.count(_ != 0)
                    chromaDcDequant(c, qpc)
                  }
                  if ((cbp >> 4) == 1)
                    dcs.map(_.map(dc => Array.fill(16)((dc + 32) >> 6)))
                  else
                    Array.tabulate(2) { pl =>
                      val quads = Array.ofDim[Array[Int]](4)
                      Seq((0, 0), (1, 0), (0, 1), (1, 1)).foreach { case (cbx0, rel) =>
                        val cbx = mx * 2 + cbx0
                        val cby = my * 2 + rel
                        val nA = if (cbx == 0) -1 else cTcs(pl)(cbx - 1)(cby)
                        val nB = if (cby == 0) -1 else cTcs(pl)(cbx)(cby - 1)
                        val nC =
                          if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                          else if (nA >= 0) nA
                          else if (nB >= 0) nB
                          else 0
                        if (nC >= 4) return None // [4,8) refusal as for luma
                        val ac = decodeCoeffBlock(r, nC, maxCoeff = 15)
                          .getOrElse(return None)
                        val tc = ac.count(_ != 0)
                        cTcs(pl)(cbx)(cby) = tc
                        nLevels += tc
                        quads(rel * 2 + cbx0) =
                          dequantIdctChroma(dcs(pl)(rel * 2 + cbx0), ac, qpc)
                      }
                      quads
                    }
                }
              // chroma 8x8 DC prediction per plane (quadrant rules)
              // plus the per-pixel residual
              Seq(cbP, crP).zipWithIndex.foreach { case (plane, pi) =>
                val cx0 = mx * 8
                val cy0 = my * 8
                val hasT = cy0 > 0
                val hasL = cx0 > 0
                def sumT(off: Int): Int =
                  (0 until 4).map(k => plane(cy0 - 1)(cx0 + off + k)).sum
                def sumL(off: Int): Int =
                  (0 until 4).map(k => plane(cy0 + off + k)(cx0 - 1)).sum
                Seq((0, 0), (4, 0), (0, 4), (4, 4)).foreach { case (qx, qy) =>
                  val dc = (qx, qy) match {
                    case (0, 0) =>
                      if (hasT && hasL) (sumT(0) + sumL(0) + 4) >> 3
                      else if (hasT) (sumT(0) + 2) >> 2
                      else if (hasL) (sumL(0) + 2) >> 2
                      else 128
                    case (4, 0) =>
                      if (hasT) (sumT(4) + 2) >> 2
                      else if (hasL) (sumL(0) + 2) >> 2
                      else 128
                    case (0, 4) =>
                      if (hasL) (sumL(4) + 2) >> 2
                      else if (hasT) (sumT(0) + 2) >> 2
                      else 128
                    case _ =>
                      if (hasT && hasL) (sumT(4) + sumL(4) + 4) >> 3
                      else if (hasT) (sumT(4) + 2) >> 2
                      else if (hasL) (sumL(4) + 2) >> 2
                      else 128
                  }
                  val res = chromaRes(pi)((qy / 4) * 2 + (qx / 4))
                  var y = 0
                  while (y < 4) {
                    var x = 0
                    while (x < 4) {
                      plane(cy0 + qy + y)(cx0 + qx + x) =
                        clip255(dc + res(y * 4 + x))
                      x += 1
                    }
                    y += 1
                  }
                }
              }
              mbIdx += 1
            }
            nFrames += 1
            var fl = 0L
            luma.foreach(_.foreach(fl += _))
            var fc = 0L
            cbP.foreach(_.foreach(fc += _))
            crP.foreach(_.foreach(fc += _))
            lumaSum += fl
            chromaSum += fc
            weighted += nFrames.toLong * (fl + fc)
          case _ => ()
        }
      }
      sps.map(i => CavlcFrames(nFrames, i.width, i.height,
        lumaSum, chromaSum, weighted, nLevels))
    } catch { case _: IllegalStateException => None }
  }

  final case class PcmFrames(
      nFrames: Int, width: Int, height: Int,
      lumaSum: Long, chromaSum: Long, weightedSum: Long)

  /** Pixel decode of an all-I_PCM stream: parse each IDR slice
    * header, then per macroblock require mb_type 25, byte-align,
    * and read every raw 4:2:0 sample value. Returns per-plane sums
    * + the frame-index-weighted total (a full frame buffer would be
    * the same reads at the mb-offset addresses); None on any
    * non-I_PCM macroblock or structural violation.
    */
  def decodeIPcm(p: Array[Byte]): Option[PcmFrames] = {
    try {
      val nals = scanNals(p)
      var sps: Option[SpsInfo] = None
      var nFrames = 0
      var lumaSum = 0L
      var chromaSum = 0L
      var weighted = 0L
      nals.foreach { case (s, e) =>
        val nalType = p(s) & 0x1F
        nalType match {
          case 7 =>
            sps = parseSps(new BitReader(unescape(p, s + 1, e)))
            if (sps.isEmpty) return None
          case 5 =>
            val info = sps.getOrElse(return None)
            val r = new BitReader(unescape(p, s + 1, e))
            r.ue()                       // first_mb_in_slice
            val sliceType = r.ue()
            if (sliceType % 5 != 2) return None // not an I slice
            r.ue()                       // pps id
            r.u(4)                       // frame_num
            r.ue()                       // idr_pic_id
            r.u(1); r.u(1)               // dec_ref_pic_marking
            r.se()                       // slice_qp_delta
            if (r.ue() != 1) { r.se(); r.se() } // deblocking offsets
            var fl = 0L
            var fc = 0L
            var mb = 0
            val nMbs = info.mbW * info.mbH
            while (mb < nMbs) {
              if (r.ue() != 25) return None // only I_PCM in scope
              r.alignToByte()
              var i = 0
              while (i < 256) { fl += r.u(8); i += 1 }
              i = 0
              while (i < 128) { fc += r.u(8); i += 1 }
              mb += 1
            }
            nFrames += 1
            lumaSum += fl
            chromaSum += fc
            weighted += nFrames.toLong * (fl + fc)
          case _ => ()
        }
      }
      sps.map(i => PcmFrames(nFrames, i.width, i.height, lumaSum, chromaSum, weighted))
    } catch { case _: IllegalStateException => None }
  }

  // ---------------------------------------------------------------
  // P-slice inter prediction (motion compensation)
  // ---------------------------------------------------------------

  /** Luma motion-vector prediction for a 16x16 partition (ITU-T
    * H.264 §8.4.1.3): neighbors A (left), B (top), C (top-right,
    * falling back to D top-left when C is unavailable); if B and C
    * are both unavailable and A is available the prediction is mvA;
    * if EXACTLY one neighbor shares the current reference index the
    * prediction is that neighbor's mv; otherwise the componentwise
    * median with unavailable neighbors contributing (0,0)/ref -1.
    * `mvs` is the per-MB field of the current picture in quarter
    * luma samples; all partitions here are 16x16 with refIdx 0.
    */
  private[graft] def predictMv(
      mvs: Array[(Int, Int)], decoded: Array[Boolean],
      mbx: Int, my: Int, mbW: Int): (Int, Int) =
    predictMvList(mvs, decoded, decoded, mbx, my, mbW)

  /** [[predictMv]] generalized to one REFERENCE LIST of a B slice:
    * `uses(i)` is whether decoded MB i predicts from this list
    * (refIdxLX 0 vs −1). A neighbor that exists but skips the list
    * fails the refIdx-match shortcut and contributes (0,0) to the
    * median — exactly the spec's refIdxLXN semantics.
    */
  private[graft] def predictMvList(
      mvs: Array[(Int, Int)], decoded: Array[Boolean], uses: Array[Boolean],
      mbx: Int, my: Int, mbW: Int): (Int, Int) = {
    val refs = Array.tabulate(uses.length)(i => if (uses(i)) 0 else -1)
    predictMvRef(mvs, decoded, refs, 0, mbx, my, mbW)
  }

  /** The fully refIdx-aware 16x16 prediction (§8.4.1.3): neighbors
    * carry (mv, refIdxLX) with −1 for list non-use; the B/C-
    * unavailable→A rule applies first, then the EXACTLY-ONE-
    * matching-refIdx shortcut against `curRef`, then the
    * componentwise median with unavailable/any-ref neighbors'
    * mvs (non-matching neighbors still contribute their mv).
    */
  private[graft] def predictMvRef(
      mvs: Array[(Int, Int)], decoded: Array[Boolean], refIdx: Array[Int],
      curRef: Int, mbx: Int, my: Int, mbW: Int): (Int, Int) = {
    // availability is MB-level; the Option payload is (mv, refIdx)
    def at(x: Int, y: Int): Option[((Int, Int), Int)] =
      if (x < 0 || y < 0 || x >= mbW || !decoded(y * mbW + x)) None
      else Some((mvs(y * mbW + x), refIdx(y * mbW + x)))
    val a = at(mbx - 1, my)
    val b = at(mbx, my - 1)
    val c = at(mbx + 1, my - 1).orElse(at(mbx - 1, my - 1))
    if (b.isEmpty && c.isEmpty && a.nonEmpty) a.get._1
    else {
      val nbrs = Seq(a, b, c)
      val matching = nbrs.flatten.collect { case (mv, r) if r == curRef => mv }
      if (matching.size == 1) matching.head
      else {
        // median over mvs of neighbors USING the list (any refIdx);
        // unavailable / non-using neighbors contribute (0,0)
        def med(f: ((Int, Int)) => Int): Int = {
          val v = nbrs.map(_.collect { case (mv, r) if r >= 0 => f(mv) }
            .getOrElse(0)).sorted
          v(1)
        }
        (med(_._1), med(_._2))
      }
    }
  }

  /** Partition-level MV prediction over the 4x4-BLOCK mv field
    * (§8.4.1.3 with the 16x8 / 8x16 directional rules): the
    * partition's neighbors are block A (left of its top-left block),
    * B (above it), C (above its top-right block + 1, falling back to
    * D above-left). `dir` selects the directional shortcut that
    * applies BEFORE the general derivation when the named neighbor's
    * refIdx matches: 1 = B (16x8 top), 2 = A (16x8 bottom),
    * 3 = A (8x16 left), 4 = C (8x16 right), 0 = none (16x16).
    * Availability is block-level `decoded` (slice-local in the
    * decoder, so prediction stops at slice boundaries).
    */
  private[graft] def predictMvPart(
      mvs: Array[(Int, Int)], decoded: Array[Boolean], refIdx: Array[Int],
      curRef: Int, bW: Int, bH: Int,
      bx: Int, by: Int, wB: Int, dirKind: Int): (Int, Int) = {
    def at(x: Int, y: Int): Option[((Int, Int), Int)] =
      if (x < 0 || y < 0 || x >= bW || y >= bH || !decoded(y * bW + x)) None
      else Some((mvs(y * bW + x), refIdx(y * bW + x)))
    val a = at(bx - 1, by)
    val b = at(bx, by - 1)
    val c = at(bx + wB, by - 1).orElse(at(bx - 1, by - 1))
    val directional = dirKind match {
      case 1 => b
      case 2 | 3 => a
      case 4 => at(bx + wB, by - 1).orElse(at(bx - 1, by - 1))
      case _ => None
    }
    directional match {
      case Some((mv, r)) if r == curRef => mv
      case _ =>
        if (b.isEmpty && c.isEmpty && a.nonEmpty) a.get._1
        else {
          val nbrs = Seq(a, b, c)
          val matching = nbrs.flatten.collect { case (mv, r) if r == curRef => mv }
          if (matching.size == 1) matching.head
          else {
            def med(f: ((Int, Int)) => Int): Int = {
              val v = nbrs.map(_.collect { case (mv, r) if r >= 0 => f(mv) }
                .getOrElse(0)).sorted
              v(1)
            }
            (med(_._1), med(_._2))
          }
        }
    }
  }

  /** Block-field P_Skip mv: the zero-rule on the MB's A/B neighbors,
    * else the 16x16 (dir 0) prediction.
    */
  private[graft] def skipMvBlk(
      mvs: Array[(Int, Int)], decoded: Array[Boolean], refIdx: Array[Int],
      bW: Int, bH: Int, bx: Int, by: Int): (Int, Int) = {
    def at(x: Int, y: Int): Option[((Int, Int), Int)] =
      if (x < 0 || y < 0 || x >= bW || y >= bH || !decoded(y * bW + x)) None
      else Some((mvs(y * bW + x), refIdx(y * bW + x)))
    val a = at(bx - 1, by)
    val b = at(bx, by - 1)
    if (a.isEmpty || b.isEmpty ||
        (a.get._2 == 0 && a.get._1 == ((0, 0))) ||
        (b.get._2 == 0 && b.get._1 == ((0, 0)))) (0, 0)
    else predictMvPart(mvs, decoded, refIdx, 0, bW, bH, bx, by, 4, 0)
  }

  /** P_Skip motion vector (§8.4.1.1): zero when the left or top
    * neighbor is unavailable or has a zero mv WITH refIdx 0;
    * otherwise the 16x16 median prediction (refIdx 0).
    */
  private[graft] def skipMv(
      mvs: Array[(Int, Int)], decoded: Array[Boolean],
      mbx: Int, my: Int, mbW: Int): (Int, Int) =
    skipMvRef(mvs, decoded, Array.fill(mvs.length)(0), mbx, my, mbW)

  private[graft] def skipMvRef(
      mvs: Array[(Int, Int)], decoded: Array[Boolean], refIdx: Array[Int],
      mbx: Int, my: Int, mbW: Int): (Int, Int) = {
    def at(x: Int, y: Int): Option[((Int, Int), Int)] =
      if (x < 0 || y < 0 || x >= mbW || !decoded(y * mbW + x)) None
      else Some((mvs(y * mbW + x), refIdx(y * mbW + x)))
    val a = at(mbx - 1, my)
    val b = at(mbx, my - 1)
    if (a.isEmpty || b.isEmpty ||
        (a.get._2 == 0 && a.get._1 == ((0, 0))) ||
        (b.get._2 == 0 && b.get._1 == ((0, 0)))) (0, 0)
    else predictMvRef(mvs, decoded, refIdx, 0, mbx, my, mbW)
  }

  /** Whether MB (mbx, my) of P frame f is coded as P_Skip by the
    * inter synthesizer: interior MBs only (so the skip mv median
    * provably equals the frame's constant mv) on a mod-3 lattice
    * (horizontally non-adjacent — each skip MB's left neighbor is
    * explicit).
    */
  private def synthSkip(seed: Long, f: Int, mbx: Int, my: Int): Boolean =
    mbx > 0 && my > 0 && ((seed + f + mbx + 3L * my) % 3 == 0)

  /** Per-P-frame constant displacement in FULL luma samples (even,
    * so the equivalent quarter-sample mv is a multiple of 8 and the
    * chroma displacement is an integer number of chroma samples).
    */
  private[graft] def synthInterDx(seed: Long, f: Int): Int =
    2 * (((seed + f) % 3).toInt - 1)
  private[graft] def synthInterDy(seed: Long, f: Int): Int =
    2 * (((seed + 2L * f) % 3).toInt - 1)

  /** Conformant baseline stream: one IDR all-I_PCM frame (the
    * closed-form §synthesizeH264IPcm pixel lattice at f=0) followed
    * by `nFrames - 1` P frames of P_L0_16x16 / P_Skip macroblocks
    * with cbp 0 — pure motion compensation off the reconstructed
    * previous frame. Every P frame moves by a constant
    * (synthInterDx, synthInterDy), but the BITSTREAM is not
    * constant: mvd is the difference against the real median
    * prediction (so edge MBs carry the full mv and interior ones
    * carry zero), and skip runs interleave with explicit MBs.
    */
  def synthesizeH264Inter(mbW: Int, mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = false)

  /** [[synthesizeH264Inter]] plus CAVLC luma residuals: explicit MBs
    * on a mod-2 lattice carry cbp 15 (all four luma 8x8 groups; the
    * me(v) Inter mapping's codeNum 11) at QP 24, each 4x4 block coded
    * with one of the q150 [[acScanVectors]] through the REAL cross-MB
    * nC neighbor context — motion compensation, residual dequant +
    * inverse transform, and clip compose exactly as in a conformant
    * P reconstruction, and the clipped result feeds the NEXT frame's
    * prediction.
    */
  def synthesizeH264InterResidual(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = true)

  /** Whether explicit MB (mbx, my) of P frame f carries residuals in
    * the residual synth (cbp 15 vs 0).
    */
  private[graft] def synthHasResidual(seed: Long, f: Int, mbx: Int, my: Int): Boolean =
    (seed + f + mbx + 2L * my) % 2 == 0

  /** Residual vector index for 4x4 block (gx, gy) of P frame f —
    * same %4 family as the q150 streams.
    */
  private[graft] def synthResidualK(seed: Long, f: Int, gx: Int, gy: Int): Int =
    ((seed + f * 11 + gx * 7 + gy * 5) % 4).toInt

  /** Per-frame quarter-sample mv components of the HALF-PEL streams:
    * odd frames carry a half-sample horizontal displacement (±2
    * quarter units) with a full-sample vertical one (±4), even frames
    * the transpose — each P frame exercises exactly one 6-tap
    * direction (the center-j position is a documented later step),
    * and the full-sample components are ODD sample counts, so the
    * chroma bilinear fires on every moving frame.
    */
  private[graft] def synthHalfQx(seed: Long, f: Int): Int =
    (if (f % 2 == 1) 2 else 4) * (((seed + f) % 3).toInt - 1)
  private[graft] def synthHalfQy(seed: Long, f: Int): Int =
    (if (f % 2 == 1) 4 else 2) * (((seed + 2L * f) % 3).toInt - 1)

  /** [[synthesizeH264Inter]] with sub-sample motion: P frames move by
    * [[synthHalfQx]]/[[synthHalfQy]] quarter-sample vectors, so the
    * decoder runs the 6-tap luma half filter and the 1/8 chroma
    * bilinear against real reconstructed references.
    */
  def synthesizeH264InterHalfpel(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = false,
      halfpel = true)

  /** Unrestricted quarter-sample mvs of the QUARTER streams — the
    * integer parts reach ±2 and the fractional classes sweep all 16
    * sub-sample positions across seeds/frames.
    */
  private[graft] def synthQuarterQx(seed: Long, f: Int): Int =
    ((seed + 5L * f) % 23).toInt - 11
  private[graft] def synthQuarterQy(seed: Long, f: Int): Int =
    ((seed + 7L * f) % 23).toInt - 11

  /** [[synthesizeH264Inter]] with FULL quarter-sample motion: the
    * complete §8.4.2.2.1 grid — half positions, the two-stage center
    * j, and all twelve quarter averages — plus the 1/8 chroma
    * bilinear at every fractional class.
    */
  def synthesizeH264InterQuarter(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = false,
      quarterpel = true)

  /** One all-I_PCM IDR slice NAL (frame 0 of the inter streams):
    * luma (seed+x+2y)%251, chroma (seed+2x+y)/(3·seed+x+2y)%251.
    */
  private def appendIPcmIdr(out: ArrayBuffer[Byte], mbW: Int, mbH: Int,
      seed: Long): Unit = {
    out ++= Array[Byte](0, 0, 1)
    out += 0x65.toByte
    val bw0 = new BitWriter
    bw0.ue(0); bw0.ue(7); bw0.ue(0)
    bw0.u(0, 4)            // frame_num
    bw0.ue(0)              // idr_pic_id
    bw0.u(0, 1); bw0.u(0, 1)
    bw0.se(0)
    bw0.ue(1)
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        bw0.ue(25); bw0.alignZero()
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            bw0.u(((seed + (mx * 16 + x) + 2 * (my * 16 + y)) % 251).toInt, 8); x += 1
          }
          y += 1
        }
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) {
            bw0.u(((seed + 2 * (mx * 8 + cx) + (my * 8 + cy)) % 251).toInt, 8); cx += 1
          }
          cy += 1
        }
        cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) {
            bw0.u(((3 * seed + (mx * 8 + cx) + 2 * (my * 8 + cy)) % 251).toInt, 8); cx += 1
          }
          cy += 1
        }
        mx += 1
      }
      my += 1
    }
    out ++= escape(bw0.stop())
  }

  /** Per-list constant mvs of the B streams (quarter units, multiples
    * of 8 — the averaging is the system under test; sub-sample paths
    * are q168's): list 0 predicts from the PREVIOUS frame, list 1
    * from the one before it (the low-delay two-past-reference
    * configuration).
    */
  private[graft] def synthBiQ0(seed: Long, f: Int): (Int, Int) =
    (8 * (((seed + 2L * f) % 3).toInt - 1), 8 * (((seed + f + 1L) % 3).toInt - 1))
  private[graft] def synthBiQ1(seed: Long, f: Int): (Int, Int) =
    (8 * (((seed + f) % 3).toInt - 1), 8 * (((seed + 2L * f + 1L) % 3).toInt - 1))

  /** Per-MB prediction type of B frame f: 1 = B_L0_16x16,
    * 2 = B_L1_16x16, 3 = B_Bi_16x16.
    */
  private[graft] def synthBiType(seed: Long, f: Int, mbx: Int, my: Int): Int =
    1 + ((seed + f + mbx + 2L * my) % 3).toInt

  /** Bi-prediction streams: IDR I_PCM, one P frame (the q163 shape,
    * so both references exist), then B frames of B_L0 / B_L1 / B_Bi
    * 16x16 macroblocks with per-LIST median mvd prediction (a
    * neighbor that skips the list contributes refIdx −1 semantics)
    * and the default (L0+L1+1)>>1 average — no skips, no residual,
    * cbp 0.
    */
  def synthesizeH264Bi(mbW: Int, mbH: Int, nFrames: Int, seed: Long): Array[Byte] =
    synthesizeH264BiRes(mbW, mbH, nFrames, seed, withResidual = false)

  /** [[synthesizeH264Bi]] with CAVLC luma residuals on a mod-2 MB
    * lattice of the B frames (cbp 15 at QP 24, the q150 vector
    * family) — residuals add AFTER the bi-prediction average / list
    * selection, the last inter composition not yet in-stream.
    */
  def synthesizeH264BiRes(mbW: Int, mbH: Int, nFrames: Int, seed: Long,
      withResidual: Boolean = true): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first B frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)

    // frame 1: P, constant mv (multiple of 8), no skips, cbp 0
    val qp1 = (8 * (((seed + 1) % 3).toInt - 1), 8 * (((seed + 2) % 3).toInt - 1))
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0)         // mb_skip_run
          bw.ue(0)         // P_L0_16x16
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)         // cbp
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }

    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0)             // first_mb_in_slice
      bw.ue(6)             // slice_type: B (all slices in pic)
      bw.ue(0)             // pps id
      bw.u(f % 16, 4)      // frame_num
      bw.u(0, 1)           // direct_spatial_mv_pred_flag
      bw.u(0, 1)           // num_ref_idx_active_override_flag
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(if (withResidual) -2 else 0); bw.ue(1) // QP 24 / 26
      val q0 = synthBiQ0(seed, f); val q1 = synthBiQ1(seed, f)
      val tcs = new Array[Int](4 * mbW * 4 * mbH)
      val mvs0 = Array.fill(mbW * mbH)((0, 0))
      val uses0 = Array.fill(mbW * mbH)(false)
      val mvs1 = Array.fill(mbW * mbH)((0, 0))
      val uses1 = Array.fill(mbW * mbH)(false)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val t = synthBiType(seed, f, mx, my)
          bw.ue(0)         // mb_skip_run
          bw.ue(t)         // mb_type
          if (t != 2) {
            val pr = predictMvList(mvs0, done, uses0, mx, my, mbW)
            bw.se(q0._1 - pr._1); bw.se(q0._2 - pr._2)
          }
          if (t != 1) {
            val pr = predictMvList(mvs1, done, uses1, mx, my, mbW)
            bw.se(q1._1 - pr._1); bw.se(q1._2 - pr._2)
          }
          val hasRes = withResidual && synthHasResidual(seed, f, mx, my)
          bw.ue(if (hasRes) 11 else 0) // cbp (me(v) Inter: 11 -> 15)
          if (hasRes) {
            bw.se(0)       // mb_qp_delta
            zScan4x4.foreach { case (zx, zy) =>
              val gx = mx * 4 + zx; val gy = my * 4 + zy
              val scan = acScanVectors(synthResidualK(seed, f, gx, gy))
              val nA = if (gx == 0) -1 else tcs(gy * 4 * mbW + gx - 1)
              val nB = if (gy == 0) -1 else tcs((gy - 1) * 4 * mbW + gx)
              val nC =
                if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                else if (nA >= 0) nA
                else if (nB >= 0) nB
                else 0
              encodeCoeffBlock(bw, scan, nC)
              tcs(gy * 4 * mbW + gx) = scan.count(_ != 0)
            }
          }
          if (t != 2) { mvs0(my * mbW + mx) = q0; uses0(my * mbW + mx) = true }
          if (t != 1) { mvs1(my * mbW + mx) = q1; uses1(my * mbW + mx) = true }
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** §8.4.1.2.2 SPATIAL direct motion derivation over 4x4-granular
    * block fields — the ONE implementation [[decodeInter]] and the
    * direct-stream synthesizers share (H264Spec pins it against an
    * independent reimplementation on richer mixed streams, and the
    * q206 gate's oracle re-derives the resulting pixels).
    *
    * Per list: refIdx = MinPositive over MB neighbors A/B/C (C falls
    * back to D above-left on UNavailability — the §8.4.1.3 neighbor
    * rule; a neighbor that merely skips the list contributes its −1).
    * Both lists negative → directZeroPredictionFlag (refs forced to
    * 0, all mvs 0). Otherwise each used list's mvp is the plain
    * 16x16 §8.4.1.3 prediction at the MB corner, and colZeroFlag is
    * evaluated PER 4x4 BLOCK against the colocated motion field of
    * refPicList1[0] (this subset's SPS writes
    * direct_8x8_inference_flag 0, so the colocated granularity is
    * the 4x4 block itself): the colocated block's L0 motion if its
    * predFlagL0 is set, else its L1 motion; refIdx 0 with both
    * |components| ≤ 1 quarter-sample → that 4x4's mv zeroes instead
    * of taking the mvp. References are all short-term in the
    * low-delay configuration, so the long-term disqualifier never
    * fires; an intra colocated picture (`colMvs0 == null`) or block
    * gives colZeroFlag 0. Returns (use0, use1, mv0 per 0..15 blkIdx,
    * mv1 per blkIdx), or null to refuse (a derived refIdx > 0 cannot
    * arise at one active reference per list).
    */
  private[graft] def spatialDirect(
      mvs0: Array[(Int, Int)], refs0: Array[Int],
      mvs1: Array[(Int, Int)], refs1: Array[Int],
      done: Array[Boolean], bW: Int, bH: Int, bx: Int, by: Int,
      colMvs0: Array[(Int, Int)], colRefs0: Array[Int],
      colMvs1: Array[(Int, Int)], colRefs1: Array[Int]):
      (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)) = {
    def avail(x: Int, y: Int): Int =
      if (x < 0 || y < 0 || x >= bW || y >= bH || !done(y * bW + x)) -2
      else y * bW + x
    val ia = avail(bx - 1, by)
    val ib = avail(bx, by - 1)
    val ic = { val c = avail(bx + 4, by - 1)
      if (c >= 0) c else avail(bx - 1, by - 1) }
    def minPos(refArr: Array[Int]): Int = {
      var m = Int.MaxValue
      Seq(ia, ib, ic).foreach { i =>
        if (i >= 0 && refArr(i) >= 0 && refArr(i) < m) m = refArr(i)
      }
      if (m == Int.MaxValue) -1 else m
    }
    val r0 = minPos(refs0)
    val r1 = minPos(refs1)
    if (r0 > 0 || r1 > 0) return null
    val zeroPred = r0 < 0 && r1 < 0
    val mvp0 =
      if (!zeroPred && r0 == 0)
        predictMvPart(mvs0, done, refs0, 0, bW, bH, bx, by, 4, 0)
      else (0, 0)
    val mvp1 =
      if (!zeroPred && r1 == 0)
        predictMvPart(mvs1, done, refs1, 0, bW, bH, bx, by, 4, 0)
      else (0, 0)
    def colZero(blk: Int): Boolean = {
      if (colMvs0 == null) false
      else {
        val i = (by + blk / 4) * bW + bx + blk % 4
        if (colRefs0(i) >= 0)
          colRefs0(i) == 0 &&
            math.abs(colMvs0(i)._1) <= 1 && math.abs(colMvs0(i)._2) <= 1
        else if (colRefs1(i) >= 0)
          colRefs1(i) == 0 &&
            math.abs(colMvs1(i)._1) <= 1 && math.abs(colMvs1(i)._2) <= 1
        else false
      }
    }
    def mvFor(mvp: (Int, Int)): Int => (Int, Int) = blk =>
      if (zeroPred || colZero(blk)) (0, 0) else mvp
    (zeroPred || r0 == 0, zeroPred || r1 == 0, mvFor(mvp0), mvFor(mvp1))
  }

  /** Whether MB (mbx, my) of direct B frame f is coded as
    * B_Direct_16x16 (vs part of a B_Skip run) in the all-direct
    * streams — a mod-3 lattice, so skip runs of varying length
    * interleave with coded direct MBs.
    */
  private[graft] def synthBDirCoded(seed: Long, f: Int, mbx: Int, my: Int): Boolean =
    (seed + f + mbx + 2L * my) % 3 == 0

  /** ALL-DIRECT B streams (the q206 gate family): IDR I_PCM, one P
    * frame (whole-frame constant mv, the q169 shape), then B frames
    * whose every macroblock is B_Skip or B_Direct_16x16 under
    * `direct_spatial_mv_pred_flag = 1`. The spatial derivation makes
    * every direct mv ZERO here (first MB: all neighbors unavailable →
    * directZeroPrediction; later MBs: all neighbors carry refIdx 0
    * with zero mvs → min-positive 0, median 0; colZeroFlag can only
    * zero an already-zero mvp), so each B frame reconstructs as the
    * exact per-pixel average of its two predecessors — the closed
    * form the DuckDB oracle re-derives — while the decoder still runs
    * the full §8.4.1.2.2 machinery (neighbor scan, min-positive,
    * median, colocated lookup) to get there. No residuals, cbp 0.
    */
  def synthesizeH264BDirect(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first B frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    // frame 1: P, constant mv (multiple of 8), no skips, cbp 0 — the
    // synthesizeH264BiRes frame-1 shape
    val qp1 = (8 * (((seed + 1) % 3).toInt - 1), 8 * (((seed + 2) % 3).toInt - 1))
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0)             // first_mb_in_slice
      bw.ue(6)             // slice_type: B (all slices in pic)
      bw.ue(0)             // pps id
      bw.u(f % 16, 4)      // frame_num
      bw.u(1, 1)           // direct_spatial_mv_pred_flag = 1: SPATIAL
      bw.u(0, 1)           // num_ref_idx_active_override_flag
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      var run = 0
      var mb = 0
      while (mb < mbW * mbH) {
        val mx = mb % mbW; val my = mb / mbW
        if (synthBDirCoded(seed, f, mx, my)) {
          bw.ue(run); run = 0 // mb_skip_run before the coded MB
          bw.ue(0)            // mb_type: B_Direct_16x16
          bw.ue(0)            // cbp 0 (me(v) Inter codeNum 0)
        } else run += 1       // B_Skip
        mb += 1
      }
      if (run > 0) bw.ue(run) // trailing skip run closes the slice
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** TEMPORAL-direct B streams (the q218 gate): IDR I_PCM, P(qp1),
    * P(qp2), non-reference B (temporal direct, all B_Skip /
    * B_Direct_16x16 on the [[synthBDirCoded]] lattice), P(qp4),
    * non-reference B. `direct_spatial_mv_pred_flag = 0` and
    * `num_ref_idx_l0_active = 3`, so the decoder runs the FULL
    * §8.4.1.2.3 machinery: the colocated P picture's motion field,
    * the colocated-to-list0 reference mapping (refIdxL0 = 2, the
    * 3-picture DPB's oldest entry), and the POC-distance scaling —
    * with every mv component ±16 quarter-samples, tb = 5, td = 2 →
    * tx = 8192, DistScaleFactor = 640, so mvL0 = ±40 and
    * mvL1 = ±24: NONZERO scaled vectors (not the degenerate
    * mvCol = 0 form), integer-sample by construction so the closed
    * form stays nested-clamp reads. Non-reference Bs never enter the
    * DPB, which is what keeps every colocated picture a P frame.
    * Each B frame = per-pixel (MC(two-back, mvL0) + MC(one-back,
    * mvL1) + 1) >> 1 over the REFERENCE chain — the form the DuckDB
    * oracle re-derives.
    */
  def synthesizeH264TemporalDirect(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    val qp4 = (16 * sgn(4), 16 * sgn(5))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    def bFrame(fn: Int, fIdx: Int): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0)             // first_mb_in_slice
      bw.ue(6)             // slice_type: B (all slices in pic)
      bw.ue(0)             // pps id
      bw.u(fn % 16, 4)     // frame_num
      bw.u(0, 1)           // direct_spatial_mv_pred_flag = 0: TEMPORAL
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      // no dec_ref_pic_marking: nal_ref_idc == 0
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      var run = 0
      var mb = 0
      while (mb < mbW * mbH) {
        val mx = mb % mbW; val my = mb / mbW
        if (synthBDirCoded(seed, fIdx, mx, my)) {
          bw.ue(run); run = 0 // mb_skip_run before the coded MB
          bw.ue(0)            // mb_type: B_Direct_16x16
          bw.ue(0)            // cbp 0 (me(v) Inter codeNum 0)
        } else run += 1       // B_Skip
        mb += 1
      }
      if (run > 0) bw.ue(run) // trailing skip run closes the slice
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    bFrame(3, 3) // colocated = P(qp1), mapped L0 ref = the IDR
    pFrame(3, qp4)
    bFrame(4, 5) // colocated = P(qp2), mapped L0 ref = P(qp1)
    out.toArray
  }

  /** TEMPORAL direct over a LONGER reference chain (the q224 gate) —
    * the N-deep-DPB form of [[synthesizeH264TemporalDirect]]: the
    * colocated picture is itself a MULTI-REF P frame, so its blocks
    * reference both its list0[0] AND its list0[1], and the decoder's
    * colocated-to-list0 mapping must resolve TWO different decode
    * distances (dpb(2) and dpb(3) — the latter is the case the
    * 3-picture DPB refused) with two different DistScaleFactors in
    * ONE B picture.
    *
    * Stream: IDR I_PCM (POC 0), P1 single-ref mv ±16 (POC 2), P2m
    * TWO-active-ref checkerboard ([[synthMrRef]] f=2) with constant
    * mv ±32 on both kinds (POC 4), P3 single-ref mv ±16 (POC 6),
    * then a non-reference temporal-direct B (POC 7,
    * `num_ref_idx_l0_active = 4`, all B_Skip / B_Direct_16x16 on the
    * [[synthBDirCoded]] f=4 lattice). At the B, dpb =
    * [P3, P2m, P1, IDR] and the colocated is P2m; per colocated MB:
    *  - refIdxCol 0 → mapped P1 = dpb(2): tb 5, td 2 → tx 8192,
    *    DSF 640: mvL0 = ±80 (L0 reads P1 at 20 full px), mvL1 = ±48
    *    (L1 reads P2m at 12 px);
    *  - refIdxCol 1 → mapped IDR = dpb(3): tb 7, td 4 → tx 4096,
    *    DSF 448: mvL0 = ±56 (IDR at 14 px), mvL1 = ±24 (P2m at
    *    6 px).
    * All scaled vectors are integer-sample for luma AND chroma
    * (multiples of 8 quarter-samples), so every B pixel is the
    * closed form (L0read + L1read + 1) >> 1 over nested-clamp reads
    * the DuckDB oracle re-derives.
    */
  def synthesizeH264TemporalDirectDeep(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 4))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (32 * sgn(2), 32 * sgn(3))
    val qp3 = (16 * sgn(4), 16 * sgn(5))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    // P2m: the COLOCATED-to-be — two active L0 refs ([P1, IDR]),
    // per-MB te(v) ref_idx on the synthMrRef lattice, constant mv
    // qp2 for both kinds (the scaled-direct arithmetic needs only
    // the refIdx to vary)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(2, 4)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(1)             // num_ref_idx_l0_active_minus1 = 1 (2 refs)
      bw.u(0, 1)           // ref_pic_list_modification_flag_l0
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val refs = Array.fill(mbW * mbH)(-1)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val ref = synthMrRef(seed, 2, mx, my)
          bw.ue(0)           // mb_skip_run
          bw.ue(0)           // P_L0_16x16
          bw.u(1 - ref, 1)   // ref_idx_l0, te(v) inverted bit
          val pred = predictMvRef(mvs, done, refs, ref, mx, my, mbW)
          bw.se(qp2._1 - pred._1); bw.se(qp2._2 - pred._2)
          bw.ue(0)           // cbp
          mvs(my * mbW + mx) = qp2
          refs(my * mbW + mx) = ref
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(3, qp3)
    // non-reference temporal-direct B over the 4-deep DPB
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte   // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0)             // first_mb_in_slice
      bw.ue(6)             // slice_type: B (all slices in pic)
      bw.ue(0)             // pps id
      bw.u(4, 4)           // frame_num
      bw.u(0, 1)           // direct_spatial_mv_pred_flag = 0: TEMPORAL
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(3)             // num_ref_idx_l0_active_minus1 = 3 (4 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      // no dec_ref_pic_marking: nal_ref_idc == 0
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      var run = 0
      var mb = 0
      while (mb < mbW * mbH) {
        val mx = mb % mbW; val my = mb / mbW
        if (synthBDirCoded(seed, 4, mx, my)) {
          bw.ue(run); run = 0 // mb_skip_run before the coded MB
          bw.ue(0)            // mb_type: B_Direct_16x16
          bw.ue(0)            // cbp 0 (me(v) Inter codeNum 0)
        } else run += 1       // B_Skip
        mb += 1
      }
      if (run > 0) bw.ue(run) // trailing skip run closes the slice
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Per-MB L0 reference index (0..2) of the multi-ref B frame. */
  private[graft] def synthBMrRef(seed: Long, mbx: Int, my: Int): Int =
    ((seed + mbx + 2L * my) % 3).toInt

  /** EXPLICIT MULTI-REF B streams (the q225 gate): IDR I_PCM, two
    * single-ref P frames, then a non-reference B slice with
    * `num_ref_idx_l0_active = 3` whose every macroblock is
    * B_Bi_16x16 carrying a REAL te(v)-coded ref_idx_l0 (cMax 2 →
    * plain ue(v)) on the [[synthBMrRef]] lattice — the explicit
    * multi-ref B case the 3-alias decoder refused at the MB. L0
    * predicts from list0[r] = dpb(r) ∈ {P2, P1, IDR} with one
    * constant mv, L1 from the post-swap list1[0] = dpb(1) = P1 with
    * another; mv prediction runs the refIdx-AWARE rules per list, so
    * the exactly-one-matching-neighbor shortcut and the any-ref
    * median both fire across the three-way lattice. No skips, no
    * residual: every B pixel is ((list0read + list1read + 1) >> 1)
    * over nested-clamp reads.
    */
  def synthesizeH264BMultiRef(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    val qb0 = (16 * sgn(4), 16 * sgn(5))
    val qb1 = (16 * sgn(6), 16 * sgn(7))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte   // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0)             // first_mb_in_slice
      bw.ue(6)             // slice_type: B (all slices in pic)
      bw.ue(0)             // pps id
      bw.u(3, 4)           // frame_num
      bw.u(1, 1)           // direct_spatial_mv_pred_flag (no direct MBs)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      // no dec_ref_pic_marking: nal_ref_idc == 0
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      val mvs0 = Array.fill(mbW * mbH)((0, 0))
      val refs0 = Array.fill(mbW * mbH)(-1)
      val mvs1 = Array.fill(mbW * mbH)((0, 0))
      val refs1 = Array.fill(mbW * mbH)(0)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val ref = synthBMrRef(seed, mx, my)
          bw.ue(0)           // mb_skip_run
          bw.ue(3)           // mb_type: B_Bi_16x16
          bw.ue(ref)         // ref_idx_l0, te(v) with cMax 2 = ue(v)
          val pr0 = predictMvRef(mvs0, done, refs0, ref, mx, my, mbW)
          bw.se(qb0._1 - pr0._1); bw.se(qb0._2 - pr0._2)
          val pr1 = predictMvRef(mvs1, done, refs1, 0, mx, my, mbW)
          bw.se(qb1._1 - pr1._1); bw.se(qb1._2 - pr1._2)
          bw.ue(0)           // cbp
          mvs0(my * mbW + mx) = qb0; refs0(my * mbW + mx) = ref
          mvs1(my * mbW + mx) = qb1
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Per-MB shape/mode kind of the PARTITIONED multi-ref B frame:
    * 0 → B_L0_L0_16x8 (4), 1 → B_L0_L0_8x16 (5), 2 → B_Bi_Bi_16x8
    * (20), 3 → B_Bi_Bi_8x16 (21).
    */
  private[graft] def synthBPartMrKind(seed: Long, mbx: Int, my: Int): Int =
    ((seed + mbx + 2L * my) % 4).toInt

  /** Per-PARTITION L0 reference (0..2) of the partitioned multi-ref
    * B frame — offset by the partition index so the two partitions
    * of one MB usually pick DIFFERENT pictures.
    */
  private[graft] def synthBPartMrRef(seed: Long, mbx: Int, my: Int,
      part: Int): Int = ((seed + mbx + 2L * my + part) % 3).toInt

  /** PARTITIONED multi-ref B streams (the q226 gate): IDR I_PCM, two
    * single-ref P frames, then a non-reference B slice of 16x8/8x16
    * macroblocks — (L0,L0) and (Bi,Bi) shapes on the
    * [[synthBPartMrKind]] lattice — where EVERY L0-predicting
    * partition carries its own te(v)-coded ref_idx_l0 over list0 =
    * [P2, P1, IDR] ([[synthBPartMrRef]]: the two partitions of one
    * MB usually reference DIFFERENT pictures), with a PER-REFERENCE
    * constant mv so the refIdx-aware directional prediction rules
    * (§8.4.1.3's 16x8/8x16 same-refIdx shortcuts vs the any-ref
    * median) genuinely change the emitted mvds. L1 of Bi partitions
    * is the post-swap list1[0] = P1 at one constant mv. No skips, no
    * residual: closed-form nested-clamp reads throughout.
    */
  def synthesizeH264BPartsMultiRef(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    // one constant L0 mv PER REFERENCE INDEX + one L1 mv
    def q0(ref: Int) = (16 * sgn(4 + 2 * ref), 16 * sgn(5 + 2 * ref))
    val qb1 = (16 * sgn(10), 16 * sgn(11))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte   // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)
      bw.u(3, 4)           // frame_num
      bw.u(1, 1)           // direct_spatial_mv_pred_flag (no direct MBs)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      val bW = 4 * mbW; val bH = 4 * mbH
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val mvs1 = Array.fill(bW * bH)((0, 0)); val refs1 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(mvA: Array[(Int, Int)], rA: Array[Int], bx: Int, by: Int,
          wB: Int, hB: Int, mv: (Int, Int), ref: Int): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvA(yy * bW + xx) = mv; rA(yy * bW + xx) = ref
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val kind = synthBPartMrKind(seed, mx, my)
          val t = Array(4, 5, 20, 21)(kind)
          val bi = t >= 20
          val is16x8 = (t - 4) % 2 == 0
          def rect(part: Int): (Int, Int, Int, Int, Int) =
            if (is16x8) (mx * 4, my * 4 + 2 * part, 4, 2,
              if (part == 0) 1 else 2)
            else (mx * 4 + 2 * part, my * 4, 2, 4,
              if (part == 0) 3 else 4)
          bw.ue(0)           // mb_skip_run
          bw.ue(t)           // mb_type
          // syntax order: all ref_idx_l0, then mvd_l0s, then mvd_l1s;
          // derivation runs in partition order (mirroring the decoder)
          val refsP = Array(synthBPartMrRef(seed, mx, my, 0),
            synthBPartMrRef(seed, mx, my, 1))
          bw.ue(refsP(0)); bw.ue(refsP(1)) // te(v), cMax 2 = ue(v)
          val mvd0 = Array((0, 0), (0, 0)); val mvd1 = Array((0, 0), (0, 0))
          var part = 0
          while (part < 2) {
            val (pbx, pby, pwB, phB, dir) = rect(part)
            val q = q0(refsP(part))
            val pr = predictMvPart(mvs0, done, refs0, refsP(part),
              bW, bH, pbx, pby, pwB, dir)
            mvd0(part) = (q._1 - pr._1, q._2 - pr._2)
            stamp(mvs0, refs0, pbx, pby, pwB, phB, q, refsP(part))
            if (bi) {
              val pr1 = predictMvPart(mvs1, done, refs1, 0,
                bW, bH, pbx, pby, pwB, dir)
              mvd1(part) = (qb1._1 - pr1._1, qb1._2 - pr1._2)
              stamp(mvs1, refs1, pbx, pby, pwB, phB, qb1, 0)
            }
            part += 1
          }
          bw.se(mvd0(0)._1); bw.se(mvd0(0)._2)
          bw.se(mvd0(1)._1); bw.se(mvd0(1)._2)
          if (bi) {
            bw.se(mvd1(0)._1); bw.se(mvd1(0)._2)
            bw.se(mvd1(1)._1); bw.se(mvd1(1)._2)
          }
          bw.ue(0)           // cbp
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** WEIGHTED bi-prediction over a MULTI-REF L0 (the q231 gate) —
    * the combination the header parser previously refused: a wBi B
    * slice whose pred_weight_table carries one entry PER L0
    * REFERENCE (plus the single L1 entry), and whose B_Bi_16x16
    * macroblocks pick both their L0 picture AND its weight entry by
    * te(v) ref_idx over list0 = [P2, P1, IDR]
    * ([[synthBMrRef]] lattice; weights/offsets are the
    * [[synthWtLumaR]]/[[synthWtChromaR]] closed forms at ref 0–2,
    * the L1 entry at ref index 3). Per §8.4.2.3.2 each pixel is
    * Clip1(((L0·w0[r] + L1·w1 + 2^d) >> (d+1)) + ((o0[r]+o1+1)>>1)).
    */
  def synthesizeH264WBiMultiRef(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp(wBipredIdc = 1))
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    val qb0 = (16 * sgn(4), 16 * sgn(5))
    val qb1 = (16 * sgn(6), 16 * sgn(7))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte   // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)
      bw.u(3, 4)           // frame_num
      bw.u(1, 1)           // direct_spatial_mv_pred_flag (no direct MBs)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      // pred_weight_table: denoms, then THREE L0 entries (per ref),
      // then the single L1 entry (the ref-3 closed forms)
      val (ld, _, _) = synthWtLumaR(seed, 3, 0)
      bw.ue(ld); bw.ue(1)  // luma / chroma denoms
      var ri = 0
      while (ri < 4) {     // refs 0..2 = L0 entries, 3 = the L1 entry
        val (_, lw, lo) = synthWtLumaR(seed, 3, ri)
        val (_, cbw, cbo, crw, cro) = synthWtChromaR(seed, 3, ri)
        bw.u(1, 1); bw.se(lw); bw.se(lo)
        bw.u(1, 1); bw.se(cbw); bw.se(cbo); bw.se(crw); bw.se(cro)
        ri += 1
      }
      // no dec_ref_pic_marking: nal_ref_idc == 0
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      val mvs0 = Array.fill(mbW * mbH)((0, 0))
      val refs0 = Array.fill(mbW * mbH)(-1)
      val mvs1 = Array.fill(mbW * mbH)((0, 0))
      val refs1 = Array.fill(mbW * mbH)(0)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val ref = synthBMrRef(seed, mx, my)
          bw.ue(0)           // mb_skip_run
          bw.ue(3)           // mb_type: B_Bi_16x16
          bw.ue(ref)         // ref_idx_l0, te(v) with cMax 2 = ue(v)
          val pr0 = predictMvRef(mvs0, done, refs0, ref, mx, my, mbW)
          bw.se(qb0._1 - pr0._1); bw.se(qb0._2 - pr0._2)
          val pr1 = predictMvRef(mvs1, done, refs1, 0, mx, my, mbW)
          bw.se(qb1._1 - pr1._1); bw.se(qb1._2 - pr1._2)
          bw.ue(0)           // cbp
          mvs0(my * mbW + mx) = qb0; refs0(my * mbW + mx) = ref
          mvs1(my * mbW + mx) = qb1
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Per-MB shape of the 3-ref P frame: 0 = P_L0_16x16,
    * 1 = P_L0_L0_16x8.
    */
  private[graft] def synthPMr3Kind(seed: Long, mbx: Int, my: Int): Int =
    ((seed + mbx + my) % 2).toInt

  /** Per-MB/per-partition L0 reference (0..2) of the 3-ref P frame
    * (part = 0 for the 16x16 shape).
    */
  private[graft] def synthPMr3Ref(seed: Long, mbx: Int, my: Int,
      part: Int): Int = ((seed + mbx + 2L * my + part) % 3).toInt

  /** THREE-active-ref P streams (the q230 gate) — the P-side symmetry
    * completion of the N-deep DPB: IDR I_PCM, two single-ref P
    * frames, then a P slice with `num_ref_idx_l0_active = 3` mixing
    * P_L0_16x16 macroblocks (one te(v)=ue ref_idx over
    * [P2, P1, IDR]) and P_L0_L0_16x8 macroblocks whose TWO partitions
    * carry their own ref_idx ([[synthPMr3Ref]] — usually different
    * pictures), each reference at its own constant mv so the
    * refIdx-aware §8.4.1.3 rules (directional 16x8 shortcuts vs the
    * any-ref median) genuinely shape the mvds. No skips, no
    * residual: closed-form nested-clamp reads.
    */
  def synthesizeH264PMultiRef3(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    def q0(ref: Int) = (16 * sgn(4 + 2 * ref), 16 * sgn(5 + 2 * ref))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(3, 4)           // frame_num
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.u(0, 1)           // ref_pic_list_modification_flag_l0
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      val bW = 4 * mbW; val bH = 4 * mbH
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(bx: Int, by: Int, wB: Int, hB: Int,
          mv: (Int, Int), ref: Int): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvs0(yy * bW + xx) = mv; refs0(yy * bW + xx) = ref
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0)           // mb_skip_run
          if (synthPMr3Kind(seed, mx, my) == 0) {
            bw.ue(0)         // P_L0_16x16
            val ref = synthPMr3Ref(seed, mx, my, 0)
            bw.ue(ref)       // ref_idx_l0, te cMax 2 = ue
            val q = q0(ref)
            val pr = predictMvPart(mvs0, done, refs0, ref,
              bW, bH, mx * 4, my * 4, 4, 0)
            bw.se(q._1 - pr._1); bw.se(q._2 - pr._2)
            stamp(mx * 4, my * 4, 4, 4, q, ref)
            bw.ue(0)         // cbp
          } else {
            bw.ue(1)         // P_L0_L0_16x8
            val refsP = Array(synthPMr3Ref(seed, mx, my, 0),
              synthPMr3Ref(seed, mx, my, 1))
            bw.ue(refsP(0)); bw.ue(refsP(1)) // both ref_idx first
            var part = 0
            while (part < 2) { // then mvds, derived in order
              val (pbx, pby, dir) =
                (mx * 4, my * 4 + 2 * part, if (part == 0) 1 else 2)
              val q = q0(refsP(part))
              val pr = predictMvPart(mvs0, done, refs0, refsP(part),
                bW, bH, pbx, pby, 4, dir)
              bw.se(q._1 - pr._1); bw.se(q._2 - pr._2)
              stamp(pbx, pby, 4, 2, q, refsP(part))
              part += 1
            }
            bw.ue(0)         // cbp
          }
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Per-SUB-MB type kind of the multi-ref B_8x8 frame: index into
    * Array(1, 3, 8, 10) = {B_L0_8x8, B_Bi_8x8, B_Bi_8x4, B_L0_4x4}.
    */
  private[graft] def synthB8MrKind(seed: Long, mbx: Int, my: Int,
      sb: Int): Int = ((seed + mbx + 2L * my + 3L * sb) % 4).toInt

  /** Per-SUB-MB L0 reference (0..2) of the multi-ref B_8x8 frame. */
  private[graft] def synthB8MrRef(seed: Long, mbx: Int, my: Int,
      sb: Int): Int = ((seed + mbx + 2L * my + sb) % 3).toInt

  /** MULTI-REF B_8x8 streams (the q228 gate): IDR I_PCM, two
    * single-ref P frames, then a non-reference B slice whose every
    * macroblock is B_8x8 — four sub-MBs mixing B_L0_8x8 / B_Bi_8x8 /
    * B_Bi_8x4 / B_L0_4x4 on the [[synthB8MrKind]] lattice — with a
    * te(v)-coded ref_idx_l0 PER SUB-MB ([[synthB8MrRef]], §7.3.5.2
    * position: after the four sub_mb_types, before the mvds) over
    * list0 = [P2, P1, IDR], closing the last multi-ref refusal in
    * the B-slice layer. Each reference has its own constant mv, L1
    * of Bi sub-partitions reads the post-swap list1[0] = P1. No
    * skips, no residual: closed-form nested-clamp reads.
    */
  def synthesizeH264B8x8MultiRef(mbW: Int, mbH: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 3))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    def sgn(bit: Long): Int = 1 - 2 * (((seed >> bit) % 2).toInt & 1)
    val qp1 = (16 * sgn(0), 16 * sgn(1))
    val qp2 = (16 * sgn(2), 16 * sgn(3))
    def q0(ref: Int) = (16 * sgn(4 + 2 * ref), 16 * sgn(5 + 2 * ref))
    val qb1 = (16 * sgn(10), 16 * sgn(11))
    def pFrame(fn: Int, qp: (Int, Int)): Unit = {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(fn % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp._1 - pred._1); bw.se(qp._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    pFrame(1, qp1)
    pFrame(2, qp2)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x01.toByte   // nal_ref_idc 0: NON-reference
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)
      bw.u(3, 4)           // frame_num
      bw.u(1, 1)           // direct_spatial_mv_pred_flag (no direct MBs)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(2)             // num_ref_idx_l0_active_minus1 = 2 (3 refs)
      bw.ue(0)             // num_ref_idx_l1_active_minus1 = 0
      bw.u(0, 1); bw.u(0, 1) // ref_pic_list_modification l0, l1
      bw.se(0); bw.ue(1)   // QP 26, disable_deblocking 1
      val bW = 4 * mbW; val bH = 4 * mbH
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val mvs1 = Array.fill(bW * bH)((0, 0)); val refs1 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(mvA: Array[(Int, Int)], rA: Array[Int], bx: Int, by: Int,
          wB: Int, hB: Int, mv: (Int, Int), ref: Int): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvA(yy * bW + xx) = mv; rA(yy * bW + xx) = ref
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      def subRects(mx: Int, my: Int, sb: Int,
          t: Int): Array[(Int, Int, Int, Int)] = {
        val sbx = mx * 4 + 2 * (sb % 2)
        val sby = my * 4 + 2 * (sb / 2)
        t match {
          case 1 | 3 => Array((sbx, sby, 2, 2))
          case 8 => Array((sbx, sby, 2, 1), (sbx, sby + 1, 2, 1))
          case _ => Array((sbx, sby, 1, 1), (sbx + 1, sby, 1, 1),
            (sbx, sby + 1, 1, 1), (sbx + 1, sby + 1, 1, 1))
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0)           // mb_skip_run
          bw.ue(22)          // mb_type: B_8x8
          val kinds = Array.tabulate(4)(sb => synthB8MrKind(seed, mx, my, sb))
          val types = kinds.map(Array(1, 3, 8, 10))
          val refsS = Array.tabulate(4)(sb => synthB8MrRef(seed, mx, my, sb))
          types.foreach(t => bw.ue(t))   // four sub_mb_types
          refsS.foreach(rf => bw.ue(rf)) // four ref_idx_l0, te cMax 2
          // derive in decode order (mirroring the decoder), collect
          // mvds, then emit all L0 mvds and all L1 mvds in order
          val mvd0 = Array.fill(4)(scala.collection.mutable.ArrayBuffer
            .empty[(Int, Int)])
          val mvd1 = Array.fill(4)(scala.collection.mutable.ArrayBuffer
            .empty[(Int, Int)])
          var sb = 0
          while (sb < 4) {
            val t = types(sb)
            val bi = t == 3 || t == 8
            val q = q0(refsS(sb))
            subRects(mx, my, sb, t).foreach { case (pbx, pby, pwB, phB) =>
              val pr = predictMvPart(mvs0, done, refs0, refsS(sb),
                bW, bH, pbx, pby, pwB, 0)
              mvd0(sb) += ((q._1 - pr._1, q._2 - pr._2))
              stamp(mvs0, refs0, pbx, pby, pwB, phB, q, refsS(sb))
              if (bi) {
                val pr1 = predictMvPart(mvs1, done, refs1, 0,
                  bW, bH, pbx, pby, pwB, 0)
                mvd1(sb) += ((qb1._1 - pr1._1, qb1._2 - pr1._2))
                stamp(mvs1, refs1, pbx, pby, pwB, phB, qb1, 0)
              }
            }
            sb += 1
          }
          mvd0.foreach(_.foreach { d => bw.se(d._1); bw.se(d._2) })
          mvd1.foreach(_.foreach { d => bw.se(d._1); bw.se(d._2) })
          bw.ue(0)           // cbp
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    out.toArray
  }

  /** Per-MB kind of the MIXED direct B frames: 0 = B_Direct_16x16,
    * 1 = B_L0_16x16, 2 = B_L1_16x16, 3 = B_Bi_16x16, 4 = B_Skip,
    * 5 = B_8x8 with a direct sub-MB.
    */
  private[graft] def synthBDirMixKind(seed: Long, f: Int, mbx: Int, my: Int): Int =
    ((seed + f + mbx + 2L * my) % 6).toInt

  /** Sub-MB type lattice of kind-5 MBs: sub 0..3 →
    * {B_Direct_8x8, B_L0_8x8, B_L1_8x8, B_Bi_8x8} rotated by the
    * seed/position, so every MB mixes a direct sub-MB with explicit
    * ones.
    */
  private[graft] def synthBDirMixSub(seed: Long, f: Int, mbx: Int, my: Int,
      sb: Int): Int =
    ((seed + 3L * f + mbx + 2L * my + sb) % 4).toInt

  /** MIXED direct B streams — the H264Spec derivation-pinning family:
    * IDR I_PCM, one P frame (constant mv), then B frames interleaving
    * explicit B_L0/L1/Bi 16x16 macroblocks (the [[synthBiQ0]]/
    * [[synthBiQ1]] nonzero per-list mvs), B_Direct_16x16, B_Skip
    * runs, and B_8x8 macroblocks whose sub-MBs mix B_Direct_8x8 with
    * explicit 8x8 kinds. Direct MBs sit NEXT TO nonzero-mv explicit
    * ones, so min-positive hits single-list refs, the median mvp is
    * nonzero, and from the third B frame on the colocated picture is
    * a mixed B frame — per-4x4 colZeroFlag goes live. The encoder
    * tracks the same 4x4-granular two-list block fields as the
    * decoder, STAMPS direct macroblocks with their [[spatialDirect]]
    * derivation (direct MBs contribute neighbor state to later
    * explicit mvds), and retains each B frame's field as the next
    * frames' colocated data.
    */
  def synthesizeH264BDirectMixed(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first B frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    val qp1 = (8 * (((seed + 1) % 3).toInt - 1), 8 * (((seed + 2) % 3).toInt - 1))
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    val bW = 4 * mbW; val bH = 4 * mbH
    // colocated fields: frame f-2's — IDR (null), then the P frame's
    // uniform field, then each B frame's tracked field
    var colMvs0: Array[(Int, Int)] = null; var colRefs0: Array[Int] = null
    var colMvs1: Array[(Int, Int)] = null; var colRefs1: Array[Int] = null
    var prevMvs0: Array[(Int, Int)] = Array.fill(bW * bH)(qp1)
    var prevRefs0: Array[Int] = Array.fill(bW * bH)(0)
    var prevMvs1: Array[(Int, Int)] = Array.fill(bW * bH)((0, 0))
    var prevRefs1: Array[Int] = Array.fill(bW * bH)(-1)
    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(1, 1)           // direct_spatial_mv_pred_flag = 1
      bw.u(0, 1)
      bw.u(0, 1); bw.u(0, 1)
      bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val q0 = synthBiQ0(seed, f); val q1 = synthBiQ1(seed, f)
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val mvs1 = Array.fill(bW * bH)((0, 0)); val refs1 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(mvA: Array[(Int, Int)], rfA: Array[Int],
          bx: Int, by: Int, wB: Int, hB: Int, mv: (Int, Int), rf: Int): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvA(yy * bW + xx) = mv; rfA(yy * bW + xx) = rf
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      // stamp a direct region's per-4x4 derivation (marks done too)
      def stampDirect(d: (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)),
          mbBx: Int, mbBy: Int, bx: Int, by: Int, wB: Int, hB: Int): Unit = {
        val (use0, use1, mv0f, mv1f) = d
        var yy = 0
        while (yy < hB) {
          var xx = 0
          while (xx < wB) {
            val gx = bx + xx; val gy = by + yy
            val blk = (gy - mbBy) * 4 + (gx - mbBx)
            if (use0) stamp(mvs0, refs0, gx, gy, 1, 1, mv0f(blk), 0)
            if (use1) stamp(mvs1, refs1, gx, gy, 1, 1, mv1f(blk), 0)
            done(gy * bW + gx) = true
            xx += 1
          }
          yy += 1
        }
      }
      def derive(mx: Int, my: Int) =
        spatialDirect(mvs0, refs0, mvs1, refs1, done, bW, bH,
          mx * 4, my * 4, colMvs0, colRefs0, colMvs1, colRefs1)
      var run = 0
      var mb = 0
      while (mb < mbW * mbH) {
        val mx = mb % mbW; val my = mb / mbW
        val kind = synthBDirMixKind(seed, f, mx, my)
        if (kind == 4) { // B_Skip: derivation stamps, no syntax
          stampDirect(derive(mx, my), mx * 4, my * 4, mx * 4, my * 4, 4, 4)
          run += 1
        } else {
          bw.ue(run); run = 0
          kind match {
            case 0 => // B_Direct_16x16
              bw.ue(0)
              stampDirect(derive(mx, my), mx * 4, my * 4, mx * 4, my * 4, 4, 4)
              bw.ue(0) // cbp 0
            case 5 => // B_8x8: sub lattice mixes direct + explicit
              bw.ue(22)
              val subs = Array.tabulate(4)(sb => synthBDirMixSub(seed, f, mx, my, sb))
              subs.foreach(t => bw.ue(t))
              // derive in decode order, buffer mvds, emit in syntax
              // order (all mvd_l0 then all mvd_l1) — the BSubParts
              // decoupling
              val m0 = Array.fill(4)((0, 0)); val m1 = Array.fill(4)((0, 0))
              var dCache: (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)) = null
              var sb = 0
              while (sb < 4) {
                val sbx = mx * 4 + 2 * (sb % 2); val sby = my * 4 + 2 * (sb / 2)
                subs(sb) match {
                  case 0 =>
                    if (dCache == null) dCache = derive(mx, my)
                    stampDirect(dCache, mx * 4, my * 4, sbx, sby, 2, 2)
                  case t =>
                    if (t != 2) { // uses L0
                      val pr = predictMvPart(mvs0, done, refs0, 0, bW, bH,
                        sbx, sby, 2, 0)
                      m0(sb) = (q0._1 - pr._1, q0._2 - pr._2)
                      stamp(mvs0, refs0, sbx, sby, 2, 2, q0, 0)
                    }
                    if (t != 1) { // uses L1
                      val pr = predictMvPart(mvs1, done, refs1, 0, bW, bH,
                        sbx, sby, 2, 0)
                      m1(sb) = (q1._1 - pr._1, q1._2 - pr._2)
                      stamp(mvs1, refs1, sbx, sby, 2, 2, q1, 0)
                    }
                }
                sb += 1
              }
              sb = 0
              while (sb < 4) { // mvd_l0 in sub order
                if (subs(sb) == 1 || subs(sb) == 3) { bw.se(m0(sb)._1); bw.se(m0(sb)._2) }
                sb += 1
              }
              sb = 0
              while (sb < 4) { // mvd_l1 in sub order
                if (subs(sb) == 2 || subs(sb) == 3) { bw.se(m1(sb)._1); bw.se(m1(sb)._2) }
                sb += 1
              }
              bw.ue(0) // cbp 0
            case t => // explicit 16x16: 1 = L0, 2 = L1, 3 = Bi
              bw.ue(t)
              if (t != 2) {
                val pr = predictMvPart(mvs0, done, refs0, 0, bW, bH,
                  mx * 4, my * 4, 4, 0)
                bw.se(q0._1 - pr._1); bw.se(q0._2 - pr._2)
              }
              if (t != 1) {
                val pr = predictMvPart(mvs1, done, refs1, 0, bW, bH,
                  mx * 4, my * 4, 4, 0)
                bw.se(q1._1 - pr._1); bw.se(q1._2 - pr._2)
              }
              // stamp AFTER both lists' predictions (the decoder
              // derives both lists from the pre-MB state too)
              if (t != 2) stamp(mvs0, refs0, mx * 4, my * 4, 4, 4, q0, 0)
              if (t != 1) stamp(mvs1, refs1, mx * 4, my * 4, 4, 4, q1, 0)
              bw.ue(0) // cbp 0
          }
        }
        mb += 1
      }
      if (run > 0) bw.ue(run)
      out ++= escape(bw.stop())
      // this frame's field becomes the colocated data two frames on
      colMvs0 = prevMvs0; colRefs0 = prevRefs0
      colMvs1 = prevMvs1; colRefs1 = prevRefs1
      prevMvs0 = mvs0; prevRefs0 = refs0
      prevMvs1 = mvs1; prevRefs1 = refs1
      f += 1
    }
    out.toArray
  }

  /** (pred0, pred1) per Table 7-14 two-partition row group
    * ((mb_type − 4) / 2): 0 = L0, 1 = L1, 2 = Bi.
    */
  private[graft] val bPartModes: Array[(Int, Int)] = Array(
    (0, 0), (1, 1), (0, 1), (1, 0), (0, 2), (1, 2), (2, 0), (2, 1), (2, 2))

  /** Per-(frame, partition) constant mvs of the B-PARTITION streams
    * (quarter units, multiples of 8): partition 0 reuses the q169
    * list constants ([[synthBiQ0]]/[[synthBiQ1]]); partition 1 gets
    * its own per-list forms so the 16x8/8x16 split is observable in
    * the pixels (identical mvs would decode like 16x16).
    */
  private[graft] def synthBPartQ0b(seed: Long, f: Int): (Int, Int) =
    (8 * (((2L * seed + f + 1L) % 3).toInt - 1), 8 * (((seed + 5L * f) % 3).toInt - 1))
  private[graft] def synthBPartQ1b(seed: Long, f: Int): (Int, Int) =
    (8 * (((seed + 3L * f + 1L) % 3).toInt - 1), 8 * (((seed + f) % 3).toInt - 1))

  /** Per-MB mb_type of B frame f in the B-partition streams: the
    * (seed + f + mbx + 2·mby) % 21 lattice mapped to Table 7-14
    * types 1–21 — the three 16x16 kinds plus ALL eighteen
    * two-partition kinds appear across every stream.
    */
  private[graft] def synthBPartType(seed: Long, f: Int, mbx: Int, my: Int): Int =
    1 + ((seed + f + mbx + 2L * my) % 21).toInt

  /** B streams over the FULL two-partition macroblock family: IDR
    * I_PCM, one P frame (constant mv), then B frames whose MBs carry
    * [[synthBPartType]] — B_L0/L1/Bi_16x16 and all nine
    * (pred0, pred1) ∈ {L0, L1, Bi}² combinations × {16x8, 8x16}.
    * Partition mvds are computed against the decoder's own
    * per-list directional predictions (16x8 top → B, bottom → A;
    * 8x16 left → A, right → C) over a 4x4-block field, derived in
    * partition order but EMITTED in §7.3.5.1 syntax order (all
    * mvd_l0, then all mvd_l1). No skips, no residual, cbp 0, one
    * reference per list.
    */
  def synthesizeH264BParts(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthBPartStream(mbW, mbH, nFrames, seed, weightedBi = false)

  /** [[synthesizeH264BParts]] under EXPLICIT weighted bi-prediction
    * (weighted_bipred_idc 1): every B slice carries a
    * pred_weight_table with one (luma, chroma) entry per LIST — the
    * [[synthWtLumaR]]/[[synthWtChromaR]] closed forms at ref = list —
    * and the decoder must apply the single-list scale/offset to L0-
    * and L1-only partitions and the two-list weighted combine
    * (((L0·w0 + L1·w1 + 2^d) >> (d+1)) + ((o0+o1+1) >> 1)) to Bi
    * partitions, across the full Table 7-14 two-partition family.
    */
  def synthesizeH264WBiParts(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthBPartStream(mbW, mbH, nFrames, seed, weightedBi = true)

  /** [[synthesizeH264BParts]] with CAVLC luma residuals on the
    * mod-2 MB lattice of the B frames (cbp 15 at QP 24, the q150
    * vector family) — whole-MB residuals layered over PARTITIONED
    * prediction, the realistic coded-B-frame shape: MC per partition
    * first, then one residual pass across the MB's 16 blocks.
    */
  def synthesizeH264BPartsRes(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthBPartStream(mbW, mbH, nFrames, seed, weightedBi = false,
      withResidual = true)

  private def synthBPartStream(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long, weightedBi: Boolean,
      withResidual: Boolean = false): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first B frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp(wBipredIdc = if (weightedBi) 1 else 0))
    appendIPcmIdr(out, mbW, mbH, seed)
    // frame 1: P, constant mv (multiple of 8), no skips, cbp 0
    val qp1 = (8 * (((seed + 1) % 3).toInt - 1), 8 * (((seed + 2) % 3).toInt - 1))
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0) // mb_skip_run, P_L0_16x16
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)           // cbp
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    val bW = 4 * mbW; val bH = 4 * mbH
    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)   // first_mb, slice_type B, pps
      bw.u(f % 16, 4)
      bw.u(0, 1)                      // direct_spatial_mv_pred_flag
      bw.u(0, 1)                      // num_ref_idx_active_override
      bw.u(0, 1); bw.u(0, 1)          // ref_pic_list_modification l0/l1
      if (weightedBi) {               // pred_weight_table: l0 then l1
        val (ld, _, _) = synthWtLumaR(seed, f, 0)
        bw.ue(ld); bw.ue(1)           // luma / chroma denoms
        var li = 0
        while (li < 2) {
          val (_, lw, lo) = synthWtLumaR(seed, f, li)
          val (_, cbw, cbo, crw, cro) = synthWtChromaR(seed, f, li)
          bw.u(1, 1); bw.se(lw); bw.se(lo)
          bw.u(1, 1); bw.se(cbw); bw.se(cbo); bw.se(crw); bw.se(cro)
          li += 1
        }
      }
      bw.u(0, 1)                      // adaptive_ref_pic_marking
      bw.se(if (withResidual) -2 else 0); bw.ue(1) // QP 24 / 26
      val qs = Array(
        Array(synthBiQ0(seed, f), synthBPartQ0b(seed, f)),  // list 0: p0, p1
        Array(synthBiQ1(seed, f), synthBPartQ1b(seed, f)))  // list 1: p0, p1
      val tcsR = new Array[Int](4 * mbW * 4 * mbH)
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val mvs1 = Array.fill(bW * bH)((0, 0)); val refs1 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(mvA: Array[(Int, Int)], rA: Array[Int],
          bx: Int, by: Int, wB: Int, hB: Int, mv: (Int, Int)): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvA(yy * bW + xx) = mv; rA(yy * bW + xx) = 0
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val t = synthBPartType(seed, f, mx, my)
          bw.ue(0)           // mb_skip_run
          bw.ue(t)           // mb_type
          if (t <= 3) {
            if (t != 2) {
              val pr = predictMvPart(mvs0, done, refs0, 0, bW, bH,
                mx * 4, my * 4, 4, 0)
              bw.se(qs(0)(0)._1 - pr._1); bw.se(qs(0)(0)._2 - pr._2)
            }
            if (t != 1) {
              val pr = predictMvPart(mvs1, done, refs1, 0, bW, bH,
                mx * 4, my * 4, 4, 0)
              bw.se(qs(1)(0)._1 - pr._1); bw.se(qs(1)(0)._2 - pr._2)
            }
            if (t != 2) stamp(mvs0, refs0, mx * 4, my * 4, 4, 4, qs(0)(0))
            if (t != 1) stamp(mvs1, refs1, mx * 4, my * 4, 4, 4, qs(1)(0))
          } else {
            val modePair = bPartModes((t - 4) / 2)
            val pm = Array(modePair._1, modePair._2)
            val is16x8 = (t - 4) % 2 == 0
            def rect(part: Int): (Int, Int, Int, Int, Int) =
              if (is16x8) (mx * 4, my * 4 + 2 * part, 4, 2,
                if (part == 0) 1 else 2)
              else (mx * 4 + 2 * part, my * 4, 2, 4,
                if (part == 0) 3 else 4)
            // derive in partition order (mirroring the decoder), emit
            // in syntax order afterwards
            val mvd0 = Array((0, 0), (0, 0)); val mvd1 = Array((0, 0), (0, 0))
            var part = 0
            while (part < 2) {
              val (pbx, pby, pwB, phB, dir) = rect(part)
              if (pm(part) != 1) {
                val pr = predictMvPart(mvs0, done, refs0, 0, bW, bH,
                  pbx, pby, pwB, dir)
                val q = qs(0)(part)
                mvd0(part) = (q._1 - pr._1, q._2 - pr._2)
                stamp(mvs0, refs0, pbx, pby, pwB, phB, q)
              }
              if (pm(part) != 0) {
                val pr = predictMvPart(mvs1, done, refs1, 0, bW, bH,
                  pbx, pby, pwB, dir)
                val q = qs(1)(part)
                mvd1(part) = (q._1 - pr._1, q._2 - pr._2)
                stamp(mvs1, refs1, pbx, pby, pwB, phB, q)
              }
              part += 1
            }
            part = 0
            while (part < 2) {
              if (pm(part) != 1) { bw.se(mvd0(part)._1); bw.se(mvd0(part)._2) }
              part += 1
            }
            part = 0
            while (part < 2) {
              if (pm(part) != 0) { bw.se(mvd1(part)._1); bw.se(mvd1(part)._2) }
              part += 1
            }
          }
          val hasRes = withResidual && synthHasResidual(seed, f, mx, my)
          bw.ue(if (hasRes) 11 else 0) // cbp (me(v) Inter: 11 -> 15)
          if (hasRes) {
            bw.se(0)         // mb_qp_delta
            zScan4x4.foreach { case (zx, zy) =>
              val gx = mx * 4 + zx; val gy = my * 4 + zy
              val scan = acScanVectors(synthResidualK(seed, f, gx, gy))
              val nA = if (gx == 0) -1 else tcsR(gy * 4 * mbW + gx - 1)
              val nB = if (gy == 0) -1 else tcsR((gy - 1) * 4 * mbW + gx)
              val nC =
                if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                else if (nA >= 0) nA
                else if (nB >= 0) nB
                else 0
              encodeCoeffBlock(bw, scan, nC)
              tcsR(gy * 4 * mbW + gx) = scan.count(_ != 0)
            }
          }
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** Per-sub-MB sub_mb_type of the B_8x8 streams (Table 7-18 types
    * 1-12 — B_Direct_8x8 excluded by construction): the
    * (seed + f + mbx + mby + sb) % 12 lattice puts every non-direct
    * B sub-type in every stream.
    */
  private[graft] def synthBSubKind(seed: Long, f: Int, mbx: Int, my: Int,
      sb: Int): Int =
    1 + ((seed + f + mbx + my + sb) % 12).toInt

  /** B streams where every macroblock is B_8x8: four sub-MBs per MB,
    * each carrying a [[synthBSubKind]] sub_mb_type — L0/L1/Bi
    * prediction at 8x8, 8x4, 4x8 and 4x4 granularity. First
    * sub-partition regions move by the per-list qA constants
    * ([[synthBiQ0]]/[[synthBiQ1]]), complementary regions (8x4
    * bottom, 4x8 right, 4x4 anti-diagonal) by the qB constants
    * ([[synthBPartQ0b]]/[[synthBPartQ1b]]). mvds are computed
    * against the PLAIN per-list §8.4.1.3 prediction at each
    * sub-partition's own rectangle, derived in decode order but
    * EMITTED in §7.3.5.2 syntax order (all mvd_l0, then all mvd_l1).
    */
  def synthesizeH264BSubParts(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first B frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    val qp1 = (8 * (((seed + 1) % 3).toInt - 1), 8 * (((seed + 2) % 3).toInt - 1))
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }
    val bW = 4 * mbW; val bH = 4 * mbH
    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(6); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(0, 1); bw.u(0, 1)
      bw.u(0, 1); bw.u(0, 1)
      bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val qA = Array(synthBiQ0(seed, f), synthBiQ1(seed, f))
      val qB = Array(synthBPartQ0b(seed, f), synthBPartQ1b(seed, f))
      val mvs0 = Array.fill(bW * bH)((0, 0)); val refs0 = Array.fill(bW * bH)(-1)
      val mvs1 = Array.fill(bW * bH)((0, 0)); val refs1 = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(mvA: Array[(Int, Int)], rA: Array[Int],
          bx: Int, by: Int, wB: Int, hB: Int, mv: (Int, Int)): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvA(yy * bW + xx) = mv; rA(yy * bW + xx) = 0
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      def usesBi(t: Int) = t == 3 || t == 8 || t == 9 || t == 12
      def usesL0(t: Int) = t == 1 || t == 4 || t == 5 || t == 10 || usesBi(t)
      def usesL1(t: Int) = t == 2 || t == 6 || t == 7 || t == 11 || usesBi(t)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0)           // mb_skip_run
          bw.ue(22)          // B_8x8
          val subTypes = Array.tabulate(4)(sb => synthBSubKind(seed, f, mx, my, sb))
          subTypes.foreach(bw.ue)
          // sub-partition rects + qB membership, spec decode order
          def rects(sb: Int, t: Int): Array[(Int, Int, Int, Int, Boolean)] = {
            val sbx = mx * 4 + 2 * (sb % 2)
            val sby = my * 4 + 2 * (sb / 2)
            t match {
              case 1 | 2 | 3 => Array((sbx, sby, 2, 2, false))
              case 4 | 6 | 8 => Array((sbx, sby, 2, 1, false),
                (sbx, sby + 1, 2, 1, true))
              case 5 | 7 | 9 => Array((sbx, sby, 1, 2, false),
                (sbx + 1, sby, 1, 2, true))
              case _ => Array((sbx, sby, 1, 1, false),
                (sbx + 1, sby, 1, 1, true),
                (sbx, sby + 1, 1, 1, true),
                (sbx + 1, sby + 1, 1, 1, false))
            }
          }
          // derive in decode order, emit later in syntax order
          val mvd0 = Array.ofDim[(Int, Int)](4, 4)
          val mvd1 = Array.ofDim[(Int, Int)](4, 4)
          var sb = 0
          while (sb < 4) {
            val t = subTypes(sb)
            val ps = rects(sb, t)
            var pi = 0
            while (pi < ps.length) {
              val (pbx, pby, pwB, phB, isQb) = ps(pi)
              if (usesL0(t)) {
                val q = if (isQb) qB(0) else qA(0)
                val pr = predictMvPart(mvs0, done, refs0, 0, bW, bH,
                  pbx, pby, pwB, 0)
                mvd0(sb)(pi) = (q._1 - pr._1, q._2 - pr._2)
                stamp(mvs0, refs0, pbx, pby, pwB, phB, q)
              }
              if (usesL1(t)) {
                val q = if (isQb) qB(1) else qA(1)
                val pr = predictMvPart(mvs1, done, refs1, 0, bW, bH,
                  pbx, pby, pwB, 0)
                mvd1(sb)(pi) = (q._1 - pr._1, q._2 - pr._2)
                stamp(mvs1, refs1, pbx, pby, pwB, phB, q)
              }
              pi += 1
            }
            sb += 1
          }
          sb = 0
          while (sb < 4) {
            if (usesL0(subTypes(sb))) {
              var pi = 0
              while (pi < rects(sb, subTypes(sb)).length) {
                bw.se(mvd0(sb)(pi)._1); bw.se(mvd0(sb)(pi)._2); pi += 1
              }
            }
            sb += 1
          }
          sb = 0
          while (sb < 4) {
            if (usesL1(subTypes(sb))) {
              var pi = 0
              while (pi < rects(sb, subTypes(sb)).length) {
                bw.se(mvd1(sb)(pi)._1); bw.se(mvd1(sb)(pi)._2); pi += 1
              }
            }
            sb += 1
          }
          bw.ue(0)           // cbp
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** Per-frame explicit weights of the WEIGHTED streams (closed
    * forms the q170 oracle replays): luma denom 1+(s+f)%2, weight
    * 1+(s+f)%3, offset (s+2f)%9−4; chroma denom 1, weights
    * 1+(s+f+1)%3 / 1+(s+2f+1)%3, offsets (s+3f)%7−3 / (s+f+5)%7−3.
    */
  private[graft] def synthWtLuma(seed: Long, f: Int): (Int, Int, Int) =
    synthWtLumaR(seed, f, 0)
  private[graft] def synthWtChroma(seed: Long, f: Int): (Int, Int, Int, Int, Int) =
    synthWtChromaR(seed, f, 0)

  /** Per-REFERENCE weight entries of the weighted multi-ref streams
    * (closed forms the q182 oracle replays): denoms are per-slice
    * (ref-independent — the §7.3.3.2 shape), weights/offsets mix the
    * ref in; ref 0 reproduces the q170 forms exactly.
    */
  private[graft] def synthWtLumaR(seed: Long, f: Int, ref: Int): (Int, Int, Int) =
    (1 + ((seed + f) % 2).toInt, 1 + ((seed + f + ref) % 3).toInt,
      ((seed + 2L * f + 3L * ref) % 9).toInt - 4)
  private[graft] def synthWtChromaR(seed: Long, f: Int,
      ref: Int): (Int, Int, Int, Int, Int) =
    (1, 1 + ((seed + f + 1L + ref) % 3).toInt,
      ((seed + 3L * f + 2L * ref) % 7).toInt - 3,
      1 + ((seed + 2L * f + 1L + ref) % 3).toInt,
      ((seed + f + 5L + ref) % 7).toInt - 3)

  /** [[synthesizeH264Inter]] under EXPLICIT weighted prediction: the
    * PPS raises weighted_pred_flag, every P slice carries a real
    * pred_weight_table, and the decoder must scale/offset each MB's
    * motion-compensated prediction (skips included) per
    * §8.4.2.3.2 — the fade-handling tool of broadcast encoders.
    */
  def synthesizeH264Weighted(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = false,
      weighted = true)

  /** Per-(frame, ref) constant mv of the multi-ref streams (quarter
    * units, multiples of 8).
    */
  private[graft] def synthMrQ(seed: Long, f: Int, ref: Int): (Int, Int) =
    (8 * (((seed + 2L * f + ref) % 3).toInt - 1),
      8 * (((seed + f + 2L * ref + 1L) % 3).toInt - 1))

  /** Per-MB L0 reference index of multi-ref P frame f. */
  private[graft] def synthMrRef(seed: Long, f: Int, mbx: Int, my: Int): Int =
    ((seed + f + mbx + my) % 2).toInt

  /** P streams with TWO active L0 references ([prev, prev-prev]):
    * the slice header raises num_ref_idx_active, each MB carries a
    * real te(v)-coded ref_idx_l0 chosen by a checkerboard lattice,
    * and mvd prediction runs the refIdx-AWARE rules — the
    * exactly-one-matching-neighbor shortcut and the any-ref median
    * both genuinely fire. Frame 1 is single-ref (so both references
    * exist); no skips, no residual.
    */
  def synthesizeH264MultiRef(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first 2-ref frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)

    // frame 1: single-ref P, constant mv, no skips
    val qp1 = synthMrQ(seed, 1, 0)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }

    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(1)             // num_ref_idx_l0_active_minus1 = 1 (2 refs)
      bw.u(0, 1)           // ref_pic_list_modification_flag_l0
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val refs = Array.fill(mbW * mbH)(-1)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val ref = synthMrRef(seed, f, mx, my)
          val q = synthMrQ(seed, f, ref)
          bw.ue(0)           // mb_skip_run
          bw.ue(0)           // P_L0_16x16
          bw.u(1 - ref, 1)   // ref_idx_l0, te(v) inverted bit
          val pred = predictMvRef(mvs, done, refs, ref, mx, my, mbW)
          bw.se(q._1 - pred._1); bw.se(q._2 - pred._2)
          bw.ue(0)           // cbp
          mvs(my * mbW + mx) = q
          refs(my * mbW + mx) = ref
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** [[synthesizeH264MultiRef]] under EXPLICIT weighted prediction:
    * every P slice carries a pred_weight_table with ONE entry PER
    * active reference ([[synthWtLumaR]]/[[synthWtChromaR]] closed
    * forms; frame 1 one entry, frames 2+ two), and the decoder must
    * scale/offset each MB's prediction with ITS refIdx's entry —
    * the weighted-fade tool composed with multi-ref selection. No
    * skips, no residual.
    */
  def synthesizeH264WeightedMultiRef(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    require(nFrames >= 3, "need IDR + P before the first 2-ref frame")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30, maxRefs = 2))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp(weightedPred = true))
    appendIPcmIdr(out, mbW, mbH, seed)

    def weightTable(bw: BitWriter, f: Int, nRefs: Int): Unit = {
      val (lwd, _, _) = synthWtLumaR(seed, f, 0)
      val (cwd, _, _, _, _) = synthWtChromaR(seed, f, 0)
      bw.ue(lwd); bw.ue(cwd)   // shared per-slice denoms
      var ref = 0
      while (ref < nRefs) {
        val (_, lw, lo) = synthWtLumaR(seed, f, ref)
        val (_, cw0, co0, cw1, co1) = synthWtChromaR(seed, f, ref)
        bw.u(1, 1); bw.se(lw); bw.se(lo)
        bw.u(1, 1); bw.se(cw0); bw.se(co0); bw.se(cw1); bw.se(co1)
        ref += 1
      }
    }

    // frame 1: single-ref weighted P, constant mv, no skips
    val qp1 = synthMrQ(seed, 1, 0)
    locally {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(1, 4)
      bw.u(0, 1)           // num_ref_idx_active_override_flag
      bw.u(0, 1)           // ref_pic_list_modification_flag_l0
      weightTable(bw, 1, 1)
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0); bw.ue(0)
          val pred = predictMv(mvs, done, mx, my, mbW)
          bw.se(qp1._1 - pred._1); bw.se(qp1._2 - pred._2)
          bw.ue(0)
          mvs(my * mbW + mx) = qp1; done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
    }

    var f = 2
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(1, 1)           // num_ref_idx_active_override_flag
      bw.ue(1)             // num_ref_idx_l0_active_minus1 = 1 (2 refs)
      bw.u(0, 1)           // ref_pic_list_modification_flag_l0
      weightTable(bw, f, 2)
      bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
      bw.se(0); bw.ue(1)
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val refs = Array.fill(mbW * mbH)(-1)
      val done = Array.fill(mbW * mbH)(false)
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val ref = synthMrRef(seed, f, mx, my)
          val q = synthMrQ(seed, f, ref)
          bw.ue(0)           // mb_skip_run
          bw.ue(0)           // P_L0_16x16
          bw.u(1 - ref, 1)   // ref_idx_l0, te(v) inverted bit
          val pred = predictMvRef(mvs, done, refs, ref, mx, my, mbW)
          bw.se(q._1 - pred._1); bw.se(q._2 - pred._2)
          bw.ue(0)           // cbp
          mvs(my * mbW + mx) = q
          refs(my * mbW + mx) = ref
          done(my * mbW + mx) = true
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** Partition mvs of the PARTITION streams: qA moves 16x16 MBs and
    * the first (top/left) partition, qB the second (bottom/right).
    */
  private[graft] def synthPartQA(seed: Long, f: Int): (Int, Int) =
    (8 * (((seed + f) % 3).toInt - 1), 8 * (((seed + 2L * f) % 3).toInt - 1))
  private[graft] def synthPartQB(seed: Long, f: Int): (Int, Int) =
    (8 * (((seed + f + 1L) % 3).toInt - 1),
      8 * (((seed + 2L * f + 1L) % 3).toInt - 1))

  /** Per-MB partition kind of P frame f: 0 = P_L0_16x16,
    * 1 = P_L0_L0_16x8, 2 = P_L0_L0_8x16.
    */
  private[graft] def synthPartKind(seed: Long, f: Int, mbx: Int, my: Int): Int =
    ((seed + f + mbx + my) % 3).toInt

  /** P streams with SUB-MACROBLOCK partitions: a kind lattice mixes
    * 16x16 / 16x8 / 8x16 macroblocks, each partition carrying its own
    * mvd against the DIRECTIONAL prediction rules (16x8 top → B,
    * bottom → A; 8x16 left → A, right → C) over the 4x4-block mv
    * field — the second partition's prediction sees the first's mvs
    * inside the same MB. No skips, no residual, 1 reference.
    */
  def synthesizeH264Partitions(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    val bW = 4 * mbW; val bH = 4 * mbH
    var f = 1
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val qA = synthPartQA(seed, f); val qB = synthPartQB(seed, f)
      val mvs = Array.fill(bW * bH)((0, 0))
      val refs = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(bx: Int, by: Int, wB: Int, hB: Int, mv: (Int, Int)): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvs(yy * bW + xx) = mv; refs(yy * bW + xx) = 0
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          val k = synthPartKind(seed, f, mx, my)
          bw.ue(0)           // mb_skip_run
          bw.ue(k)           // mb_type
          if (k == 0) {
            val pr = predictMvPart(mvs, done, refs, 0, bW, bH,
              mx * 4, my * 4, 4, 0)
            bw.se(qA._1 - pr._1); bw.se(qA._2 - pr._2)
            stamp(mx * 4, my * 4, 4, 4, qA)
          } else {
            var part = 0
            while (part < 2) {
              val (pbx, pby, pwB, phB, dir) =
                if (k == 1) (mx * 4, my * 4 + 2 * part, 4, 2,
                  if (part == 0) 1 else 2)
                else (mx * 4 + 2 * part, my * 4, 2, 4,
                  if (part == 0) 3 else 4)
              val q = if (part == 0) qA else qB
              val pr = predictMvPart(mvs, done, refs, 0, bW, bH,
                pbx, pby, pwB, dir)
              bw.se(q._1 - pr._1); bw.se(q._2 - pr._2)
              stamp(pbx, pby, pwB, phB, q)
              part += 1
            }
          }
          bw.ue(0)           // cbp
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** Per-sub-MB sub_mb_type of the SUB-PARTITION streams
    * (Table 7-17): 0 = P_L0_8x8, 1 = P_L0_8x4, 2 = P_L0_4x8,
    * 3 = P_L0_4x4, on an (id, mb, sub-MB) lattice so every type
    * appears in every stream.
    */
  private[graft] def synthSubKind(seed: Long, mx: Int, my: Int, sb: Int): Int =
    ((seed + mx + my + sb) % 4).toInt

  /** P streams with 8x8 SUB-MACROBLOCK partitions: every MB is
    * P_8x8 / P_8x8ref0 (alternating on a checkerboard — with one
    * active reference the two parse identically apart from the
    * mb_type itself), each 8x8 sub-MB carrying its sub_mb_type from
    * the [[synthSubKind]] lattice and per-sub-partition mvds against
    * the PLAIN §8.4.1.3 prediction (no directional rules at this
    * granularity) over the 4x4-block mv field. Displacements: the
    * first sub-partition region moves by qA, the complementary
    * region by qB — 8x4 bottom, 4x8 right, and the 4x4 anti-diagonal
    * (TR/BL) are the qB region, so every sub_mb_type changes the
    * picture in a closed-form way. No skips, no residual, 1
    * reference, displacements even full samples (chroma stays
    * integer-displaced).
    */
  def synthesizeH264SubParts(mbW: Int, mbH: Int, nFrames: Int,
      seed: Long): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp())
    appendIPcmIdr(out, mbW, mbH, seed)
    val bW = 4 * mbW; val bH = 4 * mbH
    var f = 1
    while (f < nFrames) {
      out ++= Array[Byte](0, 0, 1)
      out += 0x41.toByte
      val bw = new BitWriter
      bw.ue(0); bw.ue(5); bw.ue(0)
      bw.u(f % 16, 4)
      bw.u(0, 1); bw.u(0, 1); bw.u(0, 1)
      bw.se(0); bw.ue(1)
      val qA = synthPartQA(seed, f); val qB = synthPartQB(seed, f)
      val mvs = Array.fill(bW * bH)((0, 0))
      val refs = Array.fill(bW * bH)(-1)
      val done = Array.fill(bW * bH)(false)
      def stamp(bx: Int, by: Int, wB: Int, hB: Int, mv: (Int, Int)): Unit = {
        var yy = by
        while (yy < by + hB) {
          var xx = bx
          while (xx < bx + wB) {
            mvs(yy * bW + xx) = mv; refs(yy * bW + xx) = 0
            done(yy * bW + xx) = true
            xx += 1
          }
          yy += 1
        }
      }
      var my = 0
      while (my < mbH) {
        var mx = 0
        while (mx < mbW) {
          bw.ue(0)                            // mb_skip_run
          bw.ue(if ((mx + my) % 2 == 0) 3 else 4) // P_8x8 / P_8x8ref0
          var sb = 0
          while (sb < 4) {                    // sub_mb_type[4] first
            bw.ue(synthSubKind(seed, mx, my, sb))
            sb += 1
          }
          // (1 active ref: no ref_idx_l0 entries) then mvds per
          // sub-partition, sub-MB raster order — encoder runs the
          // decoder's own predictor over the shared block field
          sb = 0
          while (sb < 4) {
            val sbx = mx * 4 + 2 * (sb % 2)
            val sby = my * 4 + 2 * (sb / 2)
            val parts: Array[(Int, Int, Int, Int, Boolean)] =
              synthSubKind(seed, mx, my, sb) match {
                case 0 => Array((sbx, sby, 2, 2, false))
                case 1 => Array((sbx, sby, 2, 1, false),
                  (sbx, sby + 1, 2, 1, true))
                case 2 => Array((sbx, sby, 1, 2, false),
                  (sbx + 1, sby, 1, 2, true))
                case _ => Array((sbx, sby, 1, 1, false),
                  (sbx + 1, sby, 1, 1, true),
                  (sbx, sby + 1, 1, 1, true),
                  (sbx + 1, sby + 1, 1, 1, false))
              }
            for ((pbx, pby, pwB, phB, isB2) <- parts) {
              val q = if (isB2) qB else qA
              val pr = predictMvPart(mvs, done, refs, 0, bW, bH,
                pbx, pby, pwB, 0)
              bw.se(q._1 - pr._1); bw.se(q._2 - pr._2)
              stamp(pbx, pby, pwB, phB, q)
            }
            sb += 1
          }
          bw.ue(0)                            // cbp
          mx += 1
        }
        my += 1
      }
      out ++= escape(bw.stop())
      f += 1
    }
    out.toArray
  }

  /** [[synthesizeH264Inter]] with each P frame split into
    * `slices` horizontal slices (contiguous MB-row groups, raster
    * order). Slices are independently decodable: MV prediction and
    * skip derivation reset at each slice, so the BITSTREAM differs
    * from the single-slice stream (slice-leading MBs carry full
    * mvds, skips avoid slice-first rows) while the constant
    * per-frame mv makes the RECONSTRUCTION pixel-identical — the
    * invariant H264Spec pins.
    */
  def synthesizeH264InterSliced(mbW: Int, mbH: Int, nFrames: Int,
      slices: Int, seed: Long): Array[Byte] =
    synthInterStream(mbW, mbH, nFrames, seed, withResidual = false,
      slicesPerFrame = slices)

  private def synthInterStream(mbW: Int, mbH: Int, nFrames: Int, seed: Long,
      withResidual: Boolean, halfpel: Boolean = false,
      weighted: Boolean = false, quarterpel: Boolean = false,
      slicesPerFrame: Int = 1): Array[Byte] = {
    require(slicesPerFrame >= 1 && slicesPerFrame <= mbH,
      "each slice needs at least one MB row")
    val out = new ArrayBuffer[Byte]()
    out ++= Array[Byte](0, 0, 0, 1)
    out += 0x67.toByte
    out ++= escape(spsRbsp(mbW * 16, mbH * 16, 30))
    out ++= Array[Byte](0, 0, 1)
    out += 0x68.toByte
    out ++= escape(ppsRbsp(weightedPred = weighted))

    // IDR frame 0: I_PCM lattice (same closed form as synthesizeH264IPcm, f=0)
    appendIPcmIdr(out, mbW, mbH, seed)

    require(!(withResidual && slicesPerFrame > 1),
      "multi-slice residual synthesis not emitted (slice-aware nC on the" +
        " encode side is untested territory)")
    var f = 1
    while (f < nFrames) {
      val qmv =
        if (quarterpel) (synthQuarterQx(seed, f), synthQuarterQy(seed, f))
        else if (halfpel) (synthHalfQx(seed, f), synthHalfQy(seed, f))
        else (4 * synthInterDx(seed, f), 4 * synthInterDy(seed, f))
      val mvs = Array.fill(mbW * mbH)((0, 0))
      val tcs = new Array[Int](4 * mbW * 4 * mbH)
      var sl = 0
      while (sl < slicesPerFrame) {
        val rowStart = sl * mbH / slicesPerFrame
        val rowEnd = (sl + 1) * mbH / slicesPerFrame
        out ++= Array[Byte](0, 0, 1)
        out += 0x41.toByte // nal_ref_idc=2, type=1 (non-IDR slice)
        val bw = new BitWriter
        bw.ue(rowStart * mbW) // first_mb_in_slice
        bw.ue(5)             // slice_type: P (all slices in pic)
        bw.ue(0)             // pic_parameter_set_id
        bw.u(f % 16, 4)      // frame_num
        bw.u(0, 1)           // num_ref_idx_active_override_flag
        bw.u(0, 1)           // ref_pic_list_modification_flag_l0
        if (weighted) {      // pred_weight_table (explicit, 1 ref)
          val (lwd, lw, lo) = synthWtLuma(seed, f)
          val (cwd, cw0, co0, cw1, co1) = synthWtChroma(seed, f)
          bw.ue(lwd); bw.ue(cwd)
          bw.u(1, 1); bw.se(lw); bw.se(lo)
          bw.u(1, 1); bw.se(cw0); bw.se(co0); bw.se(cw1); bw.se(co1)
        }
        bw.u(0, 1)           // adaptive_ref_pic_marking_mode_flag
        bw.se(if (withResidual) -2 else 0) // slice_qp_delta (QP 24 / 26)
        bw.ue(1)             // disable_deblocking_filter_idc
        // slice-local availability: the decoder may not predict
        // across a slice boundary, so neither may the encoder
        val done = Array.fill(mbW * mbH)(false)
        var skipRun = 0
        var my = rowStart
        while (my < rowEnd) {
          var mx = 0
          while (mx < mbW) {
            if (synthSkip(seed, f, mx, my) && my != rowStart) {
              // the synth lattice guarantees skipMv == qmv here (the
              // slice-first row is excluded: its top neighbor is in
              // another slice, so P_Skip would derive mv 0)
              require(skipMv(mvs, done, mx, my, mbW) == qmv,
                s"synth invariant: P_Skip mv != frame mv at ($mx,$my) f=$f")
              skipRun += 1
            } else {
              bw.ue(skipRun); skipRun = 0
              bw.ue(0)       // mb_type: P_L0_16x16
              val pred = predictMv(mvs, done, mx, my, mbW)
              bw.se(qmv._1 - pred._1)
              bw.se(qmv._2 - pred._2)
              val hasRes = withResidual && synthHasResidual(seed, f, mx, my)
              // coded_block_pattern, me(v) Inter: codeNum 0 → 0, 11 → 15
              bw.ue(if (hasRes) 11 else 0)
              if (hasRes) {
                bw.se(0)     // mb_qp_delta
                zScan4x4.foreach { case (zx, zy) =>
                  val gx = mx * 4 + zx; val gy = my * 4 + zy
                  val scan = acScanVectors(synthResidualK(seed, f, gx, gy))
                  val nA = if (gx == 0) -1 else tcs(gy * 4 * mbW + gx - 1)
                  val nB = if (gy == 0) -1 else tcs((gy - 1) * 4 * mbW + gx)
                  val nC =
                    if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                    else if (nA >= 0) nA
                    else if (nB >= 0) nB
                    else 0
                  encodeCoeffBlock(bw, scan, nC)
                  tcs(gy * 4 * mbW + gx) = scan.count(_ != 0)
                }
              }
            }
            mvs(my * mbW + mx) = qmv
            done(my * mbW + mx) = true
            mx += 1
          }
          my += 1
        }
        if (skipRun > 0) bw.ue(skipRun)
        out ++= escape(bw.stop())
        sl += 1
      }
      f += 1
    }
    out.toArray
  }

  /** One luma sample of the full §8.4.2.2.1 sub-sample grid at
    * integer base (x, y) and fractional class (fx, fy) ∈ [0,4)²,
    * reading `ref` (w×h, row-major) with edge extension:
    *
    *  - half positions through the 6-tap [1,−5,20,20,−5,1]
    *    ((b+16)>>5, clip);
    *  - the center j through the two-stage form — vertical 6-tap
    *    over the UNROUNDED horizontal sums, (+512)>>10, clip;
    *  - the twelve quarter positions as (A+B+1)>>1 averages of the
    *    two nearest integer/half samples (clipped values).
    *
    * The grid GEOMETRY (which offsets each class lands on, both
    * axes) is pinned by H264Spec's linear-ramp property: on a ramp,
    * every class must land within one count of the exact fractional
    * offset — a transposed/mis-signed transcription cannot pass.
    */
  private[graft] def lumaSubSample(ref: Array[Int], w: Int, h: Int,
      x: Int, y: Int, fx: Int, fy: Int): Int = {
    val tap = Array(1, -5, 20, 20, -5, 1)
    def g(xx: Int, yy: Int): Int =
      ref(math.min(math.max(yy, 0), h - 1) * w +
        math.min(math.max(xx, 0), w - 1))
    def rawH(xx: Int, yy: Int): Int = {
      var s = 0; var i = 0
      while (i < 6) { s += tap(i) * g(xx + i - 2, yy); i += 1 }
      s
    }
    def halfH(xx: Int, yy: Int): Int = clip255((rawH(xx, yy) + 16) >> 5)
    def halfV(xx: Int, yy: Int): Int = {
      var s = 0; var i = 0
      while (i < 6) { s += tap(i) * g(xx, yy + i - 2); i += 1 }
      clip255((s + 16) >> 5)
    }
    def centerJ(xx: Int, yy: Int): Int = {
      var s = 0; var k = 0
      while (k < 6) { s += tap(k) * rawH(xx, yy + k - 2); k += 1 }
      clip255((s + 512) >> 10)
    }
    def avg(a: Int, b: Int): Int = (a + b + 1) >> 1
    (fx, fy) match {
      case (0, 0) => g(x, y)
      case (2, 0) => halfH(x, y)
      case (0, 2) => halfV(x, y)
      case (2, 2) => centerJ(x, y)
      case (1, 0) => avg(g(x, y), halfH(x, y))
      case (3, 0) => avg(halfH(x, y), g(x + 1, y))
      case (0, 1) => avg(g(x, y), halfV(x, y))
      case (0, 3) => avg(halfV(x, y), g(x, y + 1))
      case (2, 1) => avg(halfH(x, y), centerJ(x, y))
      case (2, 3) => avg(centerJ(x, y), halfH(x, y + 1))
      case (1, 2) => avg(halfV(x, y), centerJ(x, y))
      case (3, 2) => avg(centerJ(x, y), halfV(x + 1, y))
      case (1, 1) => avg(halfH(x, y), halfV(x, y))
      case (3, 1) => avg(halfH(x, y), halfV(x + 1, y))
      case (1, 3) => avg(halfH(x, y + 1), halfV(x, y))
      case _      => avg(halfH(x, y + 1), halfV(x + 1, y)) // (3,3)
    }
  }

  final case class InterFrames(
      nFrames: Int, width: Int, height: Int,
      lumaSum: Long, chromaSum: Long, weightedSum: Long,
      nSkipped: Long, mvAbsSum: Long, nLevels: Long = 0L)

  /** Per-frame decode state handed to a [[decodeInter]] collector as
    * each picture completes — exactly what the in-loop deblocking
    * stage (§8.7) consumes: the reconstructed luma plane plus the
    * 4x4-block-granular coefficient counts / motion vectors /
    * reference indices the boundary-strength derivation reads.
    * `intra` frames (the I_PCM IDRs of this subset) carry null block
    * arrays — every block is intra by construction. refIdx values
    * identify reference PICTURES directly in this low-delay subset
    * (refIdx r of any frame = the r+1-th most recent reconstruction),
    * so equal refIdx ⇔ equal reference picture across two blocks of
    * the same frame, which is the comparison §8.7.2.1 needs.
    */
  final case class FrameState(
      frameIdx: Int, intra: Boolean, isB: Boolean, w: Int, h: Int,
      luma: Array[Int], tcs: Array[Int],
      mvs0: Array[(Int, Int)], refs0: Array[Int],
      mvs1: Array[(Int, Int)], refs1: Array[Int],
      cb: Array[Int] = null, cr: Array[Int] = null)

  /** Pixel decode of an I_PCM + P_L0_16x16/P_Skip stream: frame 0
    * fills the reference buffers from raw PCM samples; each P frame
    * reads skip runs and explicit MBs (mvd against the real median
    * prediction), reconstructs every macroblock by motion
    * compensation from the previous RECONSTRUCTED frame with edge
    * extension (mv clamping at picture borders), and becomes the
    * next reference. Quarter-sample mvs must be integer-luma /
    * integer-chroma displacements (multiples of 8) — fractional
    * interpolation is out of scope and returns None, as does any
    * mb_type outside {I_PCM, P_L0_16x16, P_Skip} or cbp != 0.
    * Sums span ALL frames; nSkipped counts P_Skip AND B_Skip MBs;
    * mvAbsSum is Σ(|mvx|+|mvy|) in quarter-sample units — per MB/
    * partition per used list for explicit macroblocks, per 4x4 block
    * per used list for spatial-direct ones (whose vectors are
    * derived, not signalled; zero on the all-direct gate family).
    */
  def decodeInter(p: Array[Byte],
      collect: FrameState => Unit = null): Option[InterFrames] = {
    try {
      val nals = scanNals(p)
      var sps: Option[SpsInfo] = None
      var luma: Array[Int] = null
      var cb: Array[Int] = null
      var cr: Array[Int] = null
      // N-DEEP INDEXED DPB, newest reference first — the §8.2.4
      // short-term list order of this all-past low-delay subset, so
      // list indices ARE dpb indices: the current picture's
      // RefPicList0[i] = dpb(i), and (per the B-list swap rule,
      // §8.2.4.2.3) RefPicList1[0] = dpb(1). Each entry keeps its
      // pixels, its pic_order_cnt_type-2 POC (+2 per REFERENCE
      // picture in decode order; a non-reference picture sits at
      // prevRefPoc + 1 — the td/tb distances of temporal direct's
      // DistScaleFactor need no new bitstream fields), and its
      // 4x4-granular two-list motion field (null = intra I_PCM):
      // spatial/temporal direct read the colocated block of
      // refPicList1[0] = dpb(1), and temporal direct's
      // colocated-to-list0 mapping resolves the colocated's own
      // list-k reference by decode distance — the colocated's
      // dpb(j) is our dpb(2 + j), so a colocated block that used
      // ITS list0[k] maps to our dpb(2 + k), and one that only used
      // ITS list1[0] maps to our dpb(3) (its post-swap list1 head).
      // Entries beyond maxDpb age out; a reference past the
      // retained window is refused, not guessed.
      final class DpbEntry(val lumaP: Array[Int], val cbP: Array[Int],
        val crP: Array[Int], val poc: Int,
        val mvs0: Array[(Int, Int)], val refs0: Array[Int],
        val mvs1: Array[(Int, Int)], val refs1: Array[Int])
      val maxDpb = 8
      val dpb = scala.collection.mutable.ArrayBuffer.empty[DpbEntry]
      // hot-path aliases for entries 0-2 (the overwhelmingly common
      // references); refreshed from the DPB after every mutation
      var luma2: Array[Int] = null
      var cb2: Array[Int] = null
      var cr2: Array[Int] = null
      var luma3: Array[Int] = null
      var cb3: Array[Int] = null
      var cr3: Array[Int] = null
      var pocL = -1; var pocL2 = -1; var pocL3 = -1
      var refMvs0: Array[(Int, Int)] = null; var refRefs0: Array[Int] = null
      var refMvs1: Array[(Int, Int)] = null; var refRefs1: Array[Int] = null
      var colMvs0: Array[(Int, Int)] = null; var colRefs0: Array[Int] = null
      var colMvs1: Array[(Int, Int)] = null; var colRefs1: Array[Int] = null
      def syncDpb(): Unit = {
        def at(i: Int): DpbEntry = if (dpb.size > i) dpb(i) else null
        val e0 = at(0); val e1 = at(1); val e2 = at(2)
        luma = if (e0 != null) e0.lumaP else null
        cb = if (e0 != null) e0.cbP else null
        cr = if (e0 != null) e0.crP else null
        pocL = if (e0 != null) e0.poc else -1
        refMvs0 = if (e0 != null) e0.mvs0 else null
        refRefs0 = if (e0 != null) e0.refs0 else null
        refMvs1 = if (e0 != null) e0.mvs1 else null
        refRefs1 = if (e0 != null) e0.refs1 else null
        luma2 = if (e1 != null) e1.lumaP else null
        cb2 = if (e1 != null) e1.cbP else null
        cr2 = if (e1 != null) e1.crP else null
        pocL2 = if (e1 != null) e1.poc else -1
        colMvs0 = if (e1 != null) e1.mvs0 else null
        colRefs0 = if (e1 != null) e1.refs0 else null
        colMvs1 = if (e1 != null) e1.mvs1 else null
        colRefs1 = if (e1 != null) e1.refs1 else null
        luma3 = if (e2 != null) e2.lumaP else null
        cb3 = if (e2 != null) e2.cbP else null
        cr3 = if (e2 != null) e2.crP else null
        pocL3 = if (e2 != null) e2.poc else -1
      }
      // pending inter frame under construction — slices must
      // partition the picture in raster order (first_mb_in_slice
      // continues exactly where the previous slice stopped); the
      // frame finalizes when the slice MBs reach the picture size
      var pnl: Array[Int] = null
      var pncb: Array[Int] = null
      var pncr: Array[Int] = null
      var pMvs: Array[(Int, Int)] = null
      var pRefs0: Array[Int] = null   // refIdxL0 per MB (-1 = unused)
      var pMvs1: Array[(Int, Int)] = null
      var pRefs1: Array[Int] = null
      var pTcs: Array[Int] = null
      var pMb = 0
      var pIsB = false
      var nFrames = 0
      var lumaSum = 0L
      var chromaSum = 0L
      var weighted = 0L
      var nSkipped = 0L
      var mvAbs = 0L
      var nLevels = 0L
      var ppsWeighted = false
      var ppsWBidc = 0
      nals.foreach { case (s, e) =>
        (p(s) & 0x1F) match {
          case 7 =>
            sps = parseSps(new BitReader(unescape(p, s + 1, e)))
            if (sps.isEmpty) return None
          case 8 =>
            // the PPS fields the inter subset depends on; implicit
            // weighted bipred (idc 2 — POC-distance-derived weights)
            // is out of scope — refuse; EXPLICIT (idc 1) is in scope
            val r = new BitReader(unescape(p, s + 1, e))
            r.ue(); r.ue()
            if (r.u(1) != 0) return None // CABAC out of scope
            r.u(1)
            if (r.ue() != 0) return None // slice groups out of scope
            r.ue(); r.ue()
            ppsWeighted = r.u(1) == 1
            ppsWBidc = r.u(2)
            if (ppsWBidc > 1) return None // implicit bipred: refuse
          case 5 =>
            val info = sps.getOrElse(return None)
            if (pnl != null) return None // inter picture left incomplete
            val w = info.mbW * 16; val h = info.mbH * 16
            luma = new Array[Int](w * h)
            cb = new Array[Int](w * h / 4); cr = new Array[Int](w * h / 4)
            // IDR invalidates the DPB; the fresh picture becomes its
            // sole entry (reference, POC 0, intra: no motion field) —
            // the arrays are filled in place by the I_PCM read below
            dpb.clear()
            dpb += new DpbEntry(luma, cb, cr, 0, null, null, null, null)
            syncDpb()
            val r = new BitReader(unescape(p, s + 1, e))
            if (r.ue() != 0) return None // single-slice IDR in scope
            if (r.ue() % 5 != 2) return None
            r.ue(); r.u(4); r.ue(); r.u(1); r.u(1); r.se()
            if (r.ue() != 1) { r.se(); r.se() }
            var mb = 0
            while (mb < info.mbW * info.mbH) {
              if (r.ue() != 25) return None
              r.alignToByte()
              val mx = mb % info.mbW; val myy = mb / info.mbW
              var y = 0
              while (y < 16) {
                var x = 0
                while (x < 16) { luma((myy * 16 + y) * w + mx * 16 + x) = r.u(8); x += 1 }
                y += 1
              }
              var cy = 0
              while (cy < 8) {
                var cx = 0
                while (cx < 8) { cb((myy * 8 + cy) * (w / 2) + mx * 8 + cx) = r.u(8); cx += 1 }
                cy += 1
              }
              cy = 0
              while (cy < 8) {
                var cx = 0
                while (cx < 8) { cr((myy * 8 + cy) * (w / 2) + mx * 8 + cx) = r.u(8); cx += 1 }
                cy += 1
              }
              mb += 1
            }
            nFrames += 1
            var fl = 0L; luma.foreach(fl += _)
            var fc = 0L; cb.foreach(fc += _); cr.foreach(fc += _)
            lumaSum += fl; chromaSum += fc; weighted += nFrames.toLong * (fl + fc)
            if (collect != null)
              collect(FrameState(nFrames - 1, intra = true, isB = false,
                w, h, luma.clone(), null, null, null, null, null,
                cb.clone(), cr.clone()))
          case 1 =>
            val info = sps.getOrElse(return None)
            if (luma == null) return None // inter frame before any reference
            val w = info.mbW * 16; val h = info.mbH * 16
            // nal_ref_idc 0 = NON-REFERENCE picture: decoded and
            // counted, but never promoted into the DPB — the low-delay
            // temporal-direct configuration (B frames between stored P
            // references) depends on this (§7.4.1)
            val nalRefIdc = (p(s) >> 5) & 3
            val currPoc = pocL + (if (nalRefIdc == 0) 1 else 2)
            val r = new BitReader(unescape(p, s + 1, e))
            val firstMb = r.ue()
            val sliceType = r.ue() % 5
            if (sliceType != 0 && sliceType != 1) return None // P or B
            val isB = sliceType == 1
            if (isB && luma2 == null) return None // B needs both refs
            r.ue(); r.u(4)
            // direct_spatial_mv_pred_flag: SPATIAL direct (§8.4.1.2.2)
            // and TEMPORAL direct (flag 0, §8.4.1.2.3 POC-distance
            // scaling over the N-deep indexed DPB) are both implemented
            var directSpatial = false
            if (isB) directSpatial = r.u(1) == 1
            // num_ref_idx_active_override: BOTH slice types may raise
            // the L0 active count up to the RETAINED DPB depth —
            // list0[i] is dpb(i); P macroblocks (16x16/16x8/8x16/
            // P_8x8) and explicit B macroblocks carry te(v)-coded
            // ref_idx_l0 against it, and the §8.4.1.2.3
            // colocated-to-list0 mapping needs list0 to CONTAIN the
            // picture the colocated block referenced (the encoder
            // contract for temporal direct) — while L1 stays at 1. A
            // count beyond the resident entries is refused.
            var numRef0 = 1
            if (r.u(1) == 1) {
              if (isB) {
                numRef0 = r.ue() + 1
                if (numRef0 > dpb.size) return None
                if (r.ue() != 0) return None // L1 active must stay 1
              } else {
                // P list0 draws from the same indexed DPB as B
                // (list0[i] = dpb(i)); a count beyond the resident
                // entries is refused
                numRef0 = r.ue() + 1
                if (numRef0 > dpb.size) return None
              }
            }
            r.u(1)           // ref_pic_list_modification_flag_l0
            if (isB) r.u(1)  // ref_pic_list_modification_flag_l1
            // explicit weighted prediction (P slices, weighted_pred_flag),
            // §7.3.3.2 pred_weight_table: shared per-slice denoms, then
            // ONE (luma, chroma) weight/offset set PER active L0
            // reference; default entries (flag 0) are the identity
            // w = 1<<denom, o = 0. Weights apply per PARTITION with
            // that partition's refIdx's entry (§8.4.2.3.2).
            var lwd = 0; var cwd = 0
            // one entry per possible L0 reference (the pred_weight_
            // table parse below fills the first numRef0 of them)
            val lwA = Array.fill(maxDpb)(1); val loA = Array.fill(maxDpb)(0)
            val cwA = Array.fill(maxDpb)(Array(1, 1))
            val coA = Array.fill(maxDpb)(Array(0, 0))
            if (!isB && ppsWeighted) {
              lwd = r.ue(); if (lwd > 7) return None
              cwd = r.ue(); if (cwd > 7) return None
              var i = 0
              while (i < numRef0) {
                lwA(i) = 1 << lwd
                cwA(i)(0) = 1 << cwd; cwA(i)(1) = 1 << cwd
                if (r.u(1) == 1) { lwA(i) = r.se(); loA(i) = r.se() }
                if (r.u(1) == 1) {
                  var j = 0
                  while (j < 2) { cwA(i)(j) = r.se(); coA(i)(j) = r.se(); j += 1 }
                }
                i += 1
              }
            }
            // explicit weighted BI-prediction (weighted_bipred_idc 1,
            // B slices): the same §7.3.3.2 table with one entry PER
            // ACTIVE REFERENCE of each list — numRef0 L0 entries
            // (indexed by refIdx: a multi-ref B partition applies ITS
            // reference's weights, §8.4.2.3.2) followed by the single
            // L1 entry of this one-ref-L1 subset
            val wBi = isB && ppsWBidc == 1
            val lwB0 = Array.fill(maxDpb)(1); val loB0 = Array.fill(maxDpb)(0)
            val cwB0 = Array.fill(maxDpb)(Array(1, 1))
            val coB0 = Array.fill(maxDpb)(Array(0, 0))
            var lwB1 = 1; var loB1 = 0
            val cwB1 = Array(1, 1); val coB1 = Array(0, 0)
            if (wBi) {
              lwd = r.ue(); if (lwd > 7) return None
              cwd = r.ue(); if (cwd > 7) return None
              var li = 0
              while (li < numRef0) { // l0 entries, one per reference
                lwB0(li) = 1 << lwd
                cwB0(li)(0) = 1 << cwd; cwB0(li)(1) = 1 << cwd
                if (r.u(1) == 1) { lwB0(li) = r.se(); loB0(li) = r.se() }
                if (r.u(1) == 1) {
                  var j = 0
                  while (j < 2) { cwB0(li)(j) = r.se(); coB0(li)(j) = r.se(); j += 1 }
                }
                li += 1
              }
              lwB1 = 1 << lwd
              cwB1(0) = 1 << cwd; cwB1(1) = 1 << cwd
              if (r.u(1) == 1) { lwB1 = r.se(); loB1 = r.se() }
              if (r.u(1) == 1) {
                var j = 0
                while (j < 2) { cwB1(j) = r.se(); coB1(j) = r.se(); j += 1 }
              }
            }
            // dec_ref_pic_marking is only present for REFERENCE
            // pictures (§7.3.3: nal_ref_idc != 0)
            if (nalRefIdc != 0) r.u(1) // adaptive_ref_pic_marking_mode_flag
            var qpy = 26 + r.se()
            if (r.ue() != 1) { r.se(); r.se() }
            val nMbs = info.mbW * info.mbH
            if (firstMb == 0) {
              if (pnl != null) return None // previous frame incomplete
              pnl = new Array[Int](w * h)
              pncb = new Array[Int](w * h / 4); pncr = new Array[Int](w * h / 4)
              val nBlk = 16 * nMbs // mv fields are 4x4-block granular
              pMvs = Array.fill(nBlk)((0, 0)); pRefs0 = Array.fill(nBlk)(-1)
              pMvs1 = Array.fill(nBlk)((0, 0)); pRefs1 = Array.fill(nBlk)(-1)
              pTcs = new Array[Int](4 * info.mbW * 4 * info.mbH)
              pMb = 0
              pIsB = isB
            } else if (pnl == null || firstMb != pMb || isB != pIsB) {
              return None // slices must continue in raster order, same type
            }
            val bW = 4 * info.mbW
            val tcs = pTcs
            val mvs = pMvs; val refs0 = pRefs0
            val mvs1 = pMvs1; val refs1 = pRefs1
            // slice-local availability (4x4-block granular): slices
            // are INDEPENDENTLY decodable, so MV prediction must treat
            // macroblocks of other slices as unavailable
            val done = Array.fill(16 * nMbs)(false)
            val bH = 4 * info.mbH
            // stamp one partition's mv/ref into the block field
            def writePart(mvArr: Array[(Int, Int)], refArr: Array[Int],
                bx: Int, by: Int, wB: Int, hB: Int,
                mv: (Int, Int), ref: Int): Unit = {
              var yy = by
              while (yy < by + hB) {
                var xx = bx
                while (xx < bx + wB) {
                  mvArr(yy * bW + xx) = mv
                  refArr(yy * bW + xx) = ref
                  done(yy * bW + xx) = true
                  xx += 1
                }
                yy += 1
              }
            }
            val nl = pnl; val ncb = pncb; val ncr = pncr
            // bi-prediction scratch (list-1 MC before the average)
            val tl = new Array[Int](w * h)
            val tcb = new Array[Int](w * h / 4); val tcr = new Array[Int](w * h / 4)
            // Luma MC with H.264 sub-sample interpolation (§8.4.2.2):
            // full-sample copy, or the 6-tap [1,-5,20,20,-5,1] half
            // filter in one direction ((b+16)>>5, clip) with edge
            // extension via coordinate clamping. Quarter positions and
            // the center-j (both-half) position are out of this
            // subset — refuse. Chroma runs the REAL 1/8-resolution
            // bilinear ((Σw·s + 32)>>6), which fires whenever the luma
            // displacement is fractional OR an odd number of full
            // samples.
            def mcInto(rL: Array[Int], rCb: Array[Int], rCr: Array[Int],
                oL: Array[Int], oCb: Array[Int], oCr: Array[Int])(
                px0: Int, py0: Int, wP: Int, hP: Int, mv: (Int, Int)): Boolean = {
              val fx = Math.floorMod(mv._1, 4); val fy = Math.floorMod(mv._2, 4)
              val dx = Math.floorDiv(mv._1, 4); val dy = Math.floorDiv(mv._2, 4)
              var y = 0
              while (y < hP) {
                var x = 0
                while (x < wP) {
                  val px = px0 + x; val py = py0 + y
                  oL(py * w + px) =
                    lumaSubSample(rL, w, h, px + dx, py + dy, fx, fy)
                  x += 1
                }
                y += 1
              }
              val cw = w / 2; val ch = h / 2
              // chroma mv in 1/8 chroma-sample units == the luma
              // quarter-sample mv numerically (4:2:0)
              val cdx = Math.floorDiv(mv._1, 8); val cxF = Math.floorMod(mv._1, 8)
              val cdy = Math.floorDiv(mv._2, 8); val cyF = Math.floorMod(mv._2, 8)
              def refC(pl: Array[Int], x: Int, y: Int): Int =
                pl(math.min(math.max(y, 0), ch - 1) * cw +
                  math.min(math.max(x, 0), cw - 1))
              var cy = 0
              while (cy < hP / 2) {
                var cx = 0
                while (cx < wP / 2) {
                  val px = px0 / 2 + cx; val py = py0 / 2 + cy
                  if (cxF == 0 && cyF == 0) {
                    oCb(py * cw + px) = refC(rCb, px + cdx, py + cdy)
                    oCr(py * cw + px) = refC(rCr, px + cdx, py + cdy)
                  } else {
                    def bilin(pl: Array[Int]): Int = {
                      val a = refC(pl, px + cdx, py + cdy)
                      val b = refC(pl, px + cdx + 1, py + cdy)
                      val c = refC(pl, px + cdx, py + cdy + 1)
                      val d = refC(pl, px + cdx + 1, py + cdy + 1)
                      ((8 - cxF) * (8 - cyF) * a + cxF * (8 - cyF) * b +
                        (8 - cxF) * cyF * c + cxF * cyF * d + 32) >> 6
                    }
                    oCb(py * cw + px) = bilin(rCb)
                    oCr(py * cw + px) = bilin(rCr)
                  }
                  cx += 1
                }
                cy += 1
              }
              true
            }
            // list-0 whole-MB MC from the most recent reference
            def compensate(mx: Int, myy: Int, mv: (Int, Int)): Boolean =
              mcInto(luma, cb, cr, nl, ncb, ncr)(mx * 16, myy * 16, 16, 16, mv)
            // explicit weighted prediction (§8.4.2.3.2, single list):
            // sample = Clip1(((mc·w + 2^(d−1)) >> d) + o) for d ≥ 1,
            // Clip1(mc·w + o) for d = 0 — applied per PARTITION
            // rectangle with its refIdx's weight entry, BEFORE any
            // residual (px0/py0/wP/hP in luma samples, 2-aligned)
            def applyWeights(px0: Int, py0: Int, wP: Int, hP: Int,
                ref: Int): Unit = {
              def wp(v: Int, w0: Int, o: Int, d: Int): Int =
                clip255((if (d >= 1) (v * w0 + (1 << (d - 1))) >> d
                         else v * w0) + o)
              var y = 0
              while (y < hP) {
                var x = 0
                while (x < wP) {
                  val i = (py0 + y) * w + px0 + x
                  nl(i) = wp(nl(i), lwA(ref), loA(ref), lwd)
                  x += 1
                }
                y += 1
              }
              val cw = w / 2
              var cy = 0
              while (cy < hP / 2) {
                var cx = 0
                while (cx < wP / 2) {
                  val i = (py0 / 2 + cy) * cw + px0 / 2 + cx
                  ncb(i) = wp(ncb(i), cwA(ref)(0), coA(ref)(0), cwd)
                  ncr(i) = wp(ncr(i), cwA(ref)(1), coA(ref)(1), cwd)
                  cx += 1
                }
                cy += 1
              }
            }
            // single-list explicit weights in a B slice (idc 1): the
            // §8.4.2.3.2 single-list equations with the entry of the
            // partition's (list, refIdx) — ref0 names the L0
            // reference, ignored for list 1 (one active L1 ref)
            def applyWeightsB(px0: Int, py0: Int, wP: Int, hP: Int,
                list: Int, ref0: Int = 0): Unit = {
              def wp(v: Int, w0: Int, o: Int, d: Int): Int =
                clip255((if (d >= 1) (v * w0 + (1 << (d - 1))) >> d
                         else v * w0) + o)
              val lw = if (list == 0) lwB0(ref0) else lwB1
              val lo = if (list == 0) loB0(ref0) else loB1
              val cwE = if (list == 0) cwB0(ref0) else cwB1
              val coE = if (list == 0) coB0(ref0) else coB1
              var y = 0
              while (y < hP) {
                var x = 0
                while (x < wP) {
                  val i = (py0 + y) * w + px0 + x
                  nl(i) = wp(nl(i), lw, lo, lwd)
                  x += 1
                }
                y += 1
              }
              val cw = w / 2
              var cy = 0
              while (cy < hP / 2) {
                var cx = 0
                while (cx < wP / 2) {
                  val i = (py0 / 2 + cy) * cw + px0 / 2 + cx
                  ncb(i) = wp(ncb(i), cwE(0), coE(0), cwd)
                  ncr(i) = wp(ncr(i), cwE(1), coE(1), cwd)
                  cx += 1
                }
                cy += 1
              }
            }
            // weighted bi-prediction combine (§8.4.2.3.2, two lists):
            // Clip1(((L0·w0 + L1·w1 + 2^d) >> (d+1)) + ((o0+o1+1)>>1))
            // over the L0 MC in the frame buffer and the L1 MC in the
            // tl/tcb/tcr scratch — replaces the default average
            def biWeightedRect(px0: Int, py0: Int, wP: Int, hP: Int,
                ref0: Int = 0): Unit = {
              val lo2 = (loB0(ref0) + loB1 + 1) >> 1
              var y = 0
              while (y < hP) {
                var x = 0
                while (x < wP) {
                  val i = (py0 + y) * w + px0 + x
                  nl(i) = clip255(
                    ((nl(i) * lwB0(ref0) + tl(i) * lwB1 + (1 << lwd)) >> (lwd + 1))
                      + lo2)
                  x += 1
                }
                y += 1
              }
              val cw = w / 2
              val cbo2 = (coB0(ref0)(0) + coB1(0) + 1) >> 1
              val cro2 = (coB0(ref0)(1) + coB1(1) + 1) >> 1
              var cy = 0
              while (cy < hP / 2) {
                var cx = 0
                while (cx < wP / 2) {
                  val i = (py0 / 2 + cy) * cw + px0 / 2 + cx
                  ncb(i) = clip255(
                    ((ncb(i) * cwB0(ref0)(0) + tcb(i) * cwB1(0) + (1 << cwd))
                      >> (cwd + 1)) + cbo2)
                  ncr(i) = clip255(
                    ((ncr(i) * cwB0(ref0)(1) + tcr(i) * cwB1(1) + (1 << cwd))
                      >> (cwd + 1)) + cro2)
                  cx += 1
                }
                cy += 1
              }
            }
            // default bi-prediction (§8.4.2.3.1, no weighted pred):
            // per-sample (L0 + L1 + 1) >> 1 over the two MC results,
            // applied per partition RECTANGLE (luma samples, 2-aligned)
            def biAverageRect(px0: Int, py0: Int, wP: Int, hP: Int): Unit = {
              var y = 0
              while (y < hP) {
                var x = 0
                while (x < wP) {
                  val i = (py0 + y) * w + px0 + x
                  nl(i) = (nl(i) + tl(i) + 1) >> 1
                  x += 1
                }
                y += 1
              }
              val cw = w / 2
              var cy = 0
              while (cy < hP / 2) {
                var cx = 0
                while (cx < wP / 2) {
                  val i = (py0 / 2 + cy) * cw + px0 / 2 + cx
                  ncb(i) = (ncb(i) + tcb(i) + 1) >> 1
                  ncr(i) = (ncr(i) + tcr(i) + 1) >> 1
                  cx += 1
                }
                cy += 1
              }
            }
            def biAverage(mx: Int, myy: Int): Unit =
              biAverageRect(mx * 16, myy * 16, 16, 16)
            // §8.4.1.2.2 SPATIAL direct motion derivation, MB level:
            // per-list refIdx = MinPositive over neighbors A/B/C (C
            // falls back to D above-left on UNavailability, exactly
            // the §8.4.1.3 neighbor rule — a neighbor that merely
            // skips the list contributes its −1), both lists negative
            // → directZeroPredictionFlag (refs forced to 0, mvs 0);
            // otherwise each list's mvp is the plain 16x16 §8.4.1.3
            // prediction at the MB corner. colZeroFlag is evaluated
            // PER 4x4 BLOCK against the stored motion field of
            // refPicList1[0] (= luma2's picture; this subset's SPS
            // writes direct_8x8_inference_flag 0, so the colocated
            // granularity is the 4x4 block itself): the colocated
            // block's L0 motion if it uses L0, else its L1 motion,
            // refIdx 0 with both |components| ≤ 1 quarter-sample →
            // that 4x4's mv zeroes instead of taking the mvp. Every
            // reference here is short-term (the low-delay config), so
            // the long-term disqualifier never fires; an intra
            // colocated picture/block gives colZeroFlag 0.
            // Returns (use0, use1, mv0 per blkIdx, mv1 per blkIdx)
            // for the MB at block corner (bx, by), or null to refuse
            // (derived refIdx > 0 cannot arise at one active
            // reference per list).
            def deriveDirect(bx: Int, by: Int):
                (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)) =
              spatialDirect(mvs, refs0, mvs1, refs1, done, bW, bH, bx, by,
                colMvs0, colRefs0, colMvs1, colRefs1)
            // MC + stamping of one direct 4x4-block rectangle (wB×hB
            // blocks at block coords (pbx, pby)) under a derivation —
            // per-4x4 vectors (colZeroFlag varies inside the rect),
            // list targets as the explicit paths (L0 → frame buffer,
            // L1 → scratch when bi), combine per 4x4.
            def directRect(d: (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)),
                mbBx: Int, mbBy: Int, pbx: Int, pby: Int,
                wB: Int, hB: Int): Boolean = {
              val (use0, use1, mv0f, mv1f) = d
              var yy = 0
              while (yy < hB) {
                var xx = 0
                while (xx < wB) {
                  val gx = pbx + xx; val gy = pby + yy
                  val blk = (gy - mbBy) * 4 + (gx - mbBx)
                  if (use0) {
                    val mv0 = mv0f(blk)
                    if (!mcInto(luma, cb, cr, nl, ncb, ncr)(
                        gx * 4, gy * 4, 4, 4, mv0)) return false
                    writePart(mvs, refs0, gx, gy, 1, 1, mv0, 0)
                    mvAbs += math.abs(mv0._1) + math.abs(mv0._2)
                  }
                  if (use1) {
                    val mv1 = mv1f(blk)
                    if (!mcInto(luma2, cb2, cr2,
                        if (use0) tl else nl,
                        if (use0) tcb else ncb,
                        if (use0) tcr else ncr)(
                        gx * 4, gy * 4, 4, 4, mv1)) return false
                    writePart(mvs1, refs1, gx, gy, 1, 1, mv1, 0)
                    mvAbs += math.abs(mv1._1) + math.abs(mv1._2)
                  }
                  if (use0 && use1) {
                    if (wBi) biWeightedRect(gx * 4, gy * 4, 4, 4)
                    else biAverageRect(gx * 4, gy * 4, 4, 4)
                  } else if (wBi)
                    applyWeightsB(gx * 4, gy * 4, 4, 4, if (use0) 0 else 1)
                  xx += 1
                }
                yy += 1
              }
              true
            }
            // §8.4.1.2.3 TEMPORAL direct, per 4x4 block over a block
            // rectangle: mvCol/refIdxCol come from the colocated block
            // of refPicList1[0] (the same retained colMvs*/colRefs*
            // motion field spatial direct reads), the colocated's
            // refIdx is resolved to a RESIDENT picture of the N-deep
            // DPB by decode distance — the colocated is dpb(1), so
            // ITS list0[k] is our dpb(2+k) and (post-swap) ITS
            // list1[0] is our dpb(3); an intra colocated block maps
            // to refIdxL0 0 = dpb(0) with mvCol 0 — and the POC
            // distances drive the standard scaling —
            //   tx  = (16384 + |td/2|) / td
            //   DSF = clip3(−1024, 1023, (tb·tx + 32) >> 6)
            //   mvL0 = (DSF·mvCol + 128) >> 8 ; mvL1 = mvL0 − mvCol
            // with tb/td clip3'd to ±127 — DIFFERENT DSFs live in one
            // picture when the colocated's blocks reference different
            // pictures. Every reference here is short-term, so the
            // td==0 / long-term mvCol-passthrough never fires on
            // these streams but is kept per spec.
            // Honest refusals: a colocated reference aged past the
            // retained DPB window, and a mapped picture outside the
            // current ACTIVE list0 (numRef0 too small: a
            // non-conforming stream).
            def temporalDirectRect(pbx: Int, pby: Int,
                wB: Int, hB: Int): Boolean = {
              // an intra colocated PICTURE (colRefs* null, e.g. the
              // I_PCM frame) reads as per-block intra below:
              // refIdxL0 0, mvCol 0
              var yy = 0
              while (yy < hB) {
                var xx = 0
                while (xx < wB) {
                  val gx = pbx + xx; val gy = pby + yy
                  val ci = gy * bW + gx
                  val useL0Col = colRefs0 != null && colRefs0(ci) >= 0
                  val useL1Col = colRefs1 != null && colRefs1(ci) >= 0
                  val intra = !useL0Col && !useL1Col
                  val mvC =
                    if (intra) (0, 0)
                    else if (useL0Col) colMvs0(ci)
                    else colMvs1(ci) // colocated-B block, L1-only
                  // mapped list0 picture by decode distance (see the
                  // block comment): colocated's list0[k] = dpb(2+k),
                  // its post-swap list1[0] = dpb(3); intra = dpb(0)
                  // L1-only colocated: the 3+k form is ONLY valid at
                  // k == 0 — the colocated's post-swap list1[k] for
                  // k > 0 is NOT dpb(3+k), so refuse rather than
                  // mis-map if L1 multi-ref is ever admitted (the
                  // encoder forces num_ref_idx_l1_active = 1 today)
                  val refIdxNow =
                    if (intra) 0
                    else if (useL0Col) 2 + colRefs0(ci)
                    else if (colRefs1(ci) == 0) 3
                    else return false
                  if (refIdxNow >= dpb.size) return false // aged out
                  val mapped = dpb(refIdxNow)
                  val rfL = mapped.lumaP; val rfCb = mapped.cbP
                  val rfCr = mapped.crP; val rfPoc = mapped.poc
                  if (rfL == null) return false
                  if (refIdxNow >= numRef0) return false // not in list0
                  val tb = math.max(-128, math.min(127, currPoc - rfPoc))
                  val td = math.max(-128, math.min(127, pocL2 - rfPoc))
                  val (mv0, mv1) =
                    if (td == 0) (mvC, (0, 0))
                    else {
                      val tx = (16384 + math.abs(td / 2)) / td
                      val dsf = math.max(-1024,
                        math.min(1023, (tb * tx + 32) >> 6))
                      val m0 = ((dsf * mvC._1 + 128) >> 8,
                        (dsf * mvC._2 + 128) >> 8)
                      (m0, (m0._1 - mvC._1, m0._2 - mvC._2))
                    }
                  // bi-prediction: L0 from the mapped picture, L1 from
                  // the colocated picture itself (refPicList1[0])
                  if (!mcInto(rfL, rfCb, rfCr, nl, ncb, ncr)(
                      gx * 4, gy * 4, 4, 4, mv0)) return false
                  if (!mcInto(luma2, cb2, cr2, tl, tcb, tcr)(
                      gx * 4, gy * 4, 4, 4, mv1)) return false
                  if (wBi) biWeightedRect(gx * 4, gy * 4, 4, 4, refIdxNow)
                  else biAverageRect(gx * 4, gy * 4, 4, 4)
                  writePart(mvs, refs0, gx, gy, 1, 1, mv0, refIdxNow)
                  writePart(mvs1, refs1, gx, gy, 1, 1, mv1, 0)
                  mvAbs += math.abs(mv0._1) + math.abs(mv0._2) +
                    math.abs(mv1._1) + math.abs(mv1._2)
                  xx += 1
                }
                yy += 1
              }
              true
            }
            // one whole direct MB (B_Skip / B_Direct_16x16); the
            // derivation precedes any stamping of this MB's blocks
            def directMb(mx: Int, myy: Int): Boolean = {
              if (!directSpatial)
                return temporalDirectRect(mx * 4, myy * 4, 4, 4)
              val d = deriveDirect(mx * 4, myy * 4)
              if (d == null) return false
              directRect(d, mx * 4, myy * 4, mx * 4, myy * 4, 4, 4)
            }
            // whole-MB CAVLC luma residuals (cbp 15): mb_qp_delta,
            // then the 16 4x4 blocks in zig-zag scan order — shared
            // by the 16x16 path and every partition shape (residuals
            // are an MB-level layer, orthogonal to partitioning).
            // false = malformed stream (caller refuses).
            def decodeMbResiduals(mx: Int, myy: Int): Boolean = {
              qpy += r.se() // mb_qp_delta accumulates QPy
              var bi = 0
              while (bi < 16) {
                val (zx, zy) = zScan4x4(bi)
                val gx = mx * 4 + zx; val gy = myy * 4 + zy
                // nC neighbor availability is slice-bounded too: a
                // block whose MB precedes this slice is unavailable
                def inSlice(bx: Int, by: Int): Boolean =
                  (by / 4) * info.mbW + bx / 4 >= firstMb
                val nA = if (gx == 0 || !inSlice(gx - 1, gy)) -1
                  else tcs(gy * bW + gx - 1)
                val nB = if (gy == 0 || !inSlice(gx, gy - 1)) -1
                  else tcs((gy - 1) * bW + gx)
                val nC =
                  if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
                  else if (nA >= 0) nA
                  else if (nB >= 0) nB
                  else 0
                val scan = decodeCoeffBlock(r, nC) match {
                  case Some(sc) => sc
                  case None => return false
                }
                tcs(gy * bW + gx) = scan.count(_ != 0)
                nLevels += tcs(gy * bW + gx)
                val res = dequantIdct4x4(scan, qpy)
                var i = 0
                while (i < 16) {
                  val px = gx * 4 + (i % 4); val py = gy * 4 + (i / 4)
                  nl(py * w + px) = clip255(nl(py * w + px) + res(i))
                  i += 1
                }
                bi += 1
              }
              true
            }
            var mb = firstMb
            while (mb < nMbs && r.moreRbsp) {
              var run = r.ue()
              while (run > 0) {
                if (mb >= nMbs) return None
                val mx = mb % info.mbW; val myy = mb / info.mbW
                if (isB) {
                  // B_Skip = the slice's direct prediction (spatial or
                  // temporal), no residuals
                  if (!directMb(mx, myy)) return None
                  nSkipped += 1
                } else {
                  val mv = skipMvBlk(mvs, done, refs0, bW, bH, mx * 4, myy * 4)
                  if (!compensate(mx, myy, mv)) return None
                  // P_Skip predicts from refIdx 0 — entry 0's weights
                  if (ppsWeighted) applyWeights(mx * 16, myy * 16, 16, 16, 0)
                  writePart(mvs, refs0, mx * 4, myy * 4, 4, 4, mv, 0)
                  nSkipped += 1; mvAbs += math.abs(mv._1) + math.abs(mv._2)
                }
                mb += 1; run -= 1
              }
              if (mb < nMbs && r.moreRbsp) {
                // mb_type: P_L0 16x16/16x8/8x16 (P) / B_L0, B_L1,
                // B_Bi 16x16 (B)
                val mbType = r.ue()
                val (useL0, useL1) =
                  if (!isB) {
                    if (mbType > 4) return None // beyond P_8x8ref0: refuse
                    (true, false)
                  } else mbType match {
                    case 0 => (false, false) // B_Direct_16x16, below
                    case t if t >= 1 && t <= 22 =>
                      // explicit MBs of a multi-ref B slice carry
                      // real te(v)-coded ref_idx_l0 fields, parsed
                      // below against the N-deep DPB — 16x16
                      // (B_L0/B_L1/B_Bi) and the two-partition
                      // 16x8/8x16 family (per-partition ref_idx) and
                      // B_8x8 (per-SUB-MB ref_idx inside sub_mb_pred)
                      t match {
                        case 1 => (true, false)
                        case 2 => (false, true)
                        case 3 => (true, true)
                        case _ => (true, true) // partitions below
                      }
                    case _ => return None // intra in B: refuse
                  }
                val mx = mb % info.mbW; val myy = mb / info.mbW
                if (isB && mbType == 0) {
                  // B_Direct_16x16: spatial direct prediction, then
                  // the same me(v) Inter cbp + whole-MB residual layer
                  // as the explicit B macroblocks
                  if (!directMb(mx, myy)) return None
                  val dcbp = r.ue() match {
                    case 0 => 0
                    case 11 => 15
                    case _ => return None
                  }
                  if (dcbp == 15 && !decodeMbResiduals(mx, myy)) return None
                  mb += 1
                } else if (isB && mbType == 22) {
                  // B_8x8 (Table 7-14 type 22), §7.3.5.2 sub_mb_pred:
                  // four sub_mb_types from Table 7-18 — 0 B_Direct_8x8
                  // (REFUSED: direct prediction is out of this
                  // subset), 1-3 B_{L0,L1,Bi}_8x8, 4-9 the 8x4/4x8
                  // pairs ((L0,L0),(L1,L1),(Bi,Bi) geometry pairs),
                  // 10-12 B_{L0,L1,Bi}_4x4. Syntax: all sub_mb_types,
                  // then ref_idx_l0 per L0-predicting non-direct
                  // sub-MB when the L0 active count exceeds 1, then
                  // all mvd_l0 in sub-MB/sub-partition order, then all
                  // mvd_l1; derivation per sub-partition in decode
                  // order with the PLAIN §8.4.1.3 prediction at the
                  // partition's own rectangle (no directional rules
                  // at 8x8-and-below), both lists of a sub-partition
                  // derived before the next one.
                  val subTypes = new Array[Int](4)
                  var sb = 0
                  while (sb < 4) {
                    subTypes(sb) = r.ue()
                    // 0 = B_Direct_8x8 (spatial direct — no mvds; the
                    // MB-level derivation below, colZeroFlag per 4x4)
                    if (subTypes(sb) < 0 || subTypes(sb) > 12) return None
                    sb += 1
                  }
                  def usesBi(t: Int): Boolean =
                    t == 3 || t == 8 || t == 9 || t == 12
                  def usesL0(t: Int): Boolean =
                    t == 1 || t == 4 || t == 5 || t == 10 || usesBi(t)
                  def usesL1(t: Int): Boolean =
                    t == 2 || t == 6 || t == 7 || t == 11 || usesBi(t)
                  // sub-partition rectangles in 4x4-block units, spec
                  // decode order
                  def subRects(sb: Int, t: Int): Array[(Int, Int, Int, Int)] = {
                    val sbx = mx * 4 + 2 * (sb % 2)
                    val sby = myy * 4 + 2 * (sb / 2)
                    t match {
                      case 1 | 2 | 3 => Array((sbx, sby, 2, 2))
                      case 4 | 6 | 8 => Array((sbx, sby, 2, 1), (sbx, sby + 1, 2, 1))
                      case 5 | 7 | 9 => Array((sbx, sby, 1, 2), (sbx + 1, sby, 1, 2))
                      case _ => Array((sbx, sby, 1, 1), (sbx + 1, sby, 1, 1),
                        (sbx, sby + 1, 1, 1), (sbx + 1, sby + 1, 1, 1))
                    }
                  }
                  // §7.3.5.2: ref_idx_l0 per L0-predicting NON-direct
                  // sub-MB (te(v) against the N-deep DPB list0) sits
                  // between the sub_mb_types and the mvds; ref_idx_l1
                  // is absent (L1 active stays 1). A direct sub-MB
                  // infers its reference, never reads one.
                  val sref0 = Array(0, 0, 0, 0)
                  if (numRef0 > 1) {
                    var sbr = 0
                    while (sbr < 4) {
                      if (subTypes(sbr) != 0 && usesL0(subTypes(sbr))) {
                        sref0(sbr) =
                          if (numRef0 == 2) 1 - r.u(1)
                          else {
                            val v = r.ue()
                            if (v >= numRef0) return None
                            v
                          }
                      }
                      sbr += 1
                    }
                  }
                  // raw mvds in syntax order: all L0, then all L1
                  val mvd0 = Array.ofDim[(Int, Int)](4, 4)
                  val mvd1 = Array.ofDim[(Int, Int)](4, 4)
                  sb = 0
                  while (sb < 4) {
                    if (usesL0(subTypes(sb))) {
                      var pi = 0
                      while (pi < subRects(sb, subTypes(sb)).length) {
                        mvd0(sb)(pi) = (r.se(), r.se()); pi += 1
                      }
                    }
                    sb += 1
                  }
                  sb = 0
                  while (sb < 4) {
                    if (usesL1(subTypes(sb))) {
                      var pi = 0
                      while (pi < subRects(sb, subTypes(sb)).length) {
                        mvd1(sb)(pi) = (r.se(), r.se()); pi += 1
                      }
                    }
                    sb += 1
                  }
                  // derive + MC per sub-partition in decode order.
                  // B_Direct_8x8 sub-MBs share ONE MB-level spatial
                  // derivation (§8.4.1.2.2 derives refIdx/mvp from the
                  // MB's own A/B/C neighbors whatever the partition),
                  // computed lazily at the first direct sub-MB — MB
                  // neighbors lie outside the MB, so earlier explicit
                  // sub-MBs' stamps cannot perturb it
                  var directD: (Boolean, Boolean, Int => (Int, Int), Int => (Int, Int)) = null
                  var directDReady = false
                  sb = 0
                  while (sb < 4) {
                    val t = subTypes(sb)
                    if (t == 0) {
                      val sbx = mx * 4 + 2 * (sb % 2)
                      val sby = myy * 4 + 2 * (sb / 2)
                      if (!directSpatial) {
                        // temporal B_Direct_8x8: per-4x4 derivation,
                        // no MB-level neighbor state to precompute
                        if (!temporalDirectRect(sbx, sby, 2, 2)) return None
                      } else {
                        if (!directDReady) {
                          directD = deriveDirect(mx * 4, myy * 4)
                          directDReady = true
                        }
                        if (directD == null) return None
                        if (!directRect(directD, mx * 4, myy * 4,
                            sbx, sby, 2, 2)) return None
                      }
                      sb += 1
                    } else {
                    val parts = subRects(sb, t)
                    var pi = 0
                    while (pi < parts.length) {
                      val (pbx, pby, pwB, phB) = parts(pi)
                      val l0p = usesL0(t); val l1p = usesL1(t)
                      val mv0 = if (l0p) {
                        val pr = predictMvPart(mvs, done, refs0, sref0(sb),
                          bW, bH, pbx, pby, pwB, 0)
                        (pr._1 + mvd0(sb)(pi)._1, pr._2 + mvd0(sb)(pi)._2)
                      } else (0, 0)
                      val mv1 = if (l1p) {
                        val pr = predictMvPart(mvs1, done, refs1, 0,
                          bW, bH, pbx, pby, pwB, 0)
                        (pr._1 + mvd1(sb)(pi)._1, pr._2 + mvd1(sb)(pi)._2)
                      } else (0, 0)
                      if (l0p && !mcInto(
                          dpb(sref0(sb)).lumaP, dpb(sref0(sb)).cbP,
                          dpb(sref0(sb)).crP, nl, ncb, ncr)(
                          pbx * 4, pby * 4, pwB * 4, phB * 4, mv0)) return None
                      if (l1p && !mcInto(luma2, cb2, cr2,
                          if (l0p) tl else nl,
                          if (l0p) tcb else ncb,
                          if (l0p) tcr else ncr)(
                          pbx * 4, pby * 4, pwB * 4, phB * 4, mv1)) return None
                      if (l0p && l1p) {
                        if (wBi) biWeightedRect(pbx * 4, pby * 4, pwB * 4, phB * 4,
                          sref0(sb))
                        else biAverageRect(pbx * 4, pby * 4, pwB * 4, phB * 4)
                      } else if (wBi)
                        applyWeightsB(pbx * 4, pby * 4, pwB * 4, phB * 4,
                          if (l0p) 0 else 1, if (l0p) sref0(sb) else 0)
                      if (l0p) {
                        writePart(mvs, refs0, pbx, pby, pwB, phB, mv0, sref0(sb))
                        mvAbs += math.abs(mv0._1) + math.abs(mv0._2)
                      }
                      if (l1p) {
                        writePart(mvs1, refs1, pbx, pby, pwB, phB, mv1, 0)
                        mvAbs += math.abs(mv1._1) + math.abs(mv1._2)
                      }
                      pi += 1
                    }
                    sb += 1
                    }
                  }
                  val bcbp = r.ue() match {
                    case 0 => 0
                    case 11 => 15
                    case _ => return None
                  }
                  if (bcbp == 15 && !decodeMbResiduals(mx, myy)) return None
                  mb += 1
                } else if (isB && mbType >= 4) {
                  // B two-partition macroblocks, Table 7-14 mb_type
                  // 4–21: nine (pred0, pred1) combinations over
                  // {L0, L1, Bi} × {16x8, 8x16} — (L0,L0), (L1,L1),
                  // (L0,L1), (L1,L0), (L0,Bi), (L1,Bi), (Bi,L0),
                  // (Bi,L1), (Bi,Bi), 16x8 before its 8x16 twin.
                  // Syntax (§7.3.5.1): all mvd_l0 in partition order,
                  // THEN all mvd_l1 (ref_idx absent — one active
                  // reference per list in this subset); the mv
                  // DERIVATION runs per partition in partition order
                  // with both lists (§8.4.1.3's directional 16x8/8x16
                  // rules per list), so parse and derive are
                  // decoupled: raw mvds first, then per-partition
                  // prediction with earlier partitions' mvs already
                  // stamped in the block fields. A partition that
                  // skips a list leaves that list's refIdx at −1 over
                  // its blocks (mv 0) — the §8.4.1.3.2 predFlag=0
                  // semantics — while the shared `done` field marks
                  // the blocks decoded for availability.
                  val modePair = bPartModes((mbType - 4) / 2)
                  val pm = Array(modePair._1, modePair._2) // 0=L0 1=L1 2=Bi
                  val is16x8 = (mbType - 4) % 2 == 0
                  def rect(part: Int): (Int, Int, Int, Int, Int) =
                    if (is16x8) (mx * 4, myy * 4 + 2 * part, 4, 2,
                      if (part == 0) 1 else 2)
                    else (mx * 4 + 2 * part, myy * 4, 2, 4,
                      if (part == 0) 3 else 4)
                  // §7.3.5.1 syntax order: ALL ref_idx_l0 fields (one
                  // te(v) per L0-predicting partition when the L0
                  // active count exceeds 1; L1 stays at one ref, so
                  // ref_idx_l1 is absent), THEN all mvd_l0, THEN all
                  // mvd_l1 — each partition picks its own list0
                  // picture off the indexed DPB
                  val refs0P = Array(0, 0)
                  if (numRef0 > 1) {
                    var rp = 0
                    while (rp < 2) {
                      if (pm(rp) != 1) {
                        refs0P(rp) =
                          if (numRef0 == 2) 1 - r.u(1)
                          else {
                            val v = r.ue()
                            if (v >= numRef0) return None
                            v
                          }
                      }
                      rp += 1
                    }
                  }
                  val mvd0 = Array((0, 0), (0, 0))
                  val mvd1 = Array((0, 0), (0, 0))
                  var part = 0
                  while (part < 2) { // mvd_l0, partition order
                    if (pm(part) != 1) mvd0(part) = (r.se(), r.se())
                    part += 1
                  }
                  part = 0
                  while (part < 2) { // mvd_l1, partition order
                    if (pm(part) != 0) mvd1(part) = (r.se(), r.se())
                    part += 1
                  }
                  part = 0
                  while (part < 2) {
                    val (pbx, pby, pwB, phB, dir) = rect(part)
                    val useL0p = pm(part) != 1; val useL1p = pm(part) != 0
                    val mv0 = if (useL0p) {
                      val pr = predictMvPart(mvs, done, refs0, refs0P(part),
                        bW, bH, pbx, pby, pwB, dir)
                      (pr._1 + mvd0(part)._1, pr._2 + mvd0(part)._2)
                    } else (0, 0)
                    val mv1 = if (useL1p) {
                      val pr = predictMvPart(mvs1, done, refs1, 0,
                        bW, bH, pbx, pby, pwB, dir)
                      (pr._1 + mvd1(part)._1, pr._2 + mvd1(part)._2)
                    } else (0, 0)
                    if (useL0p && !mcInto(
                        dpb(refs0P(part)).lumaP, dpb(refs0P(part)).cbP,
                        dpb(refs0P(part)).crP, nl, ncb, ncr)(
                        pbx * 4, pby * 4, pwB * 4, phB * 4, mv0)) return None
                    if (useL1p && !mcInto(luma2, cb2, cr2,
                        if (useL0p) tl else nl,
                        if (useL0p) tcb else ncb,
                        if (useL0p) tcr else ncr)(
                        pbx * 4, pby * 4, pwB * 4, phB * 4, mv1)) return None
                    if (useL0p && useL1p) {
                      if (wBi) biWeightedRect(pbx * 4, pby * 4, pwB * 4, phB * 4,
                        refs0P(part))
                      else biAverageRect(pbx * 4, pby * 4, pwB * 4, phB * 4)
                    } else if (wBi)
                      applyWeightsB(pbx * 4, pby * 4, pwB * 4, phB * 4,
                        if (useL0p) 0 else 1, if (useL0p) refs0P(part) else 0)
                    if (useL0p) {
                      writePart(mvs, refs0, pbx, pby, pwB, phB, mv0, refs0P(part))
                      mvAbs += math.abs(mv0._1) + math.abs(mv0._2)
                    }
                    if (useL1p) {
                      writePart(mvs1, refs1, pbx, pby, pwB, phB, mv1, 0)
                      mvAbs += math.abs(mv1._1) + math.abs(mv1._2)
                    }
                    part += 1
                  }
                  // coded_block_pattern, me(v) Inter: codeNum 0 -> 0,
                  // 11 -> 15 (whole-MB luma residuals over the
                  // partitioned prediction); other entries refused
                  val pcbp = r.ue() match {
                    case 0 => 0
                    case 11 => 15
                    case _ => return None
                  }
                  if (pcbp == 15 && !decodeMbResiduals(mx, myy)) return None
                  mb += 1
                } else if (!isB && mbType >= 3) {
                  // P_8x8 (3) / P_8x8ref0 (4), §7.3.5.2 sub_mb_pred:
                  // four ue(v) sub_mb_types (Table 7-17: 0 = 8x8,
                  // 1 = 8x4, 2 = 4x8, 3 = 4x4), then ref_idx_l0 per
                  // sub-MB (P_8x8 with >1 active ref ONLY — P_8x8ref0
                  // infers 0 even with 2 refs), then mvd_l0 per
                  // sub-partition in sub-MB raster order. Prediction
                  // for 8x8-and-below partitions is the PLAIN §8.4.1.3
                  // derivation (median + exactly-one-matching-refIdx
                  // shortcut) at the partition's own block rectangle —
                  // the 16x8/8x16 directional rules do NOT apply; a
                  // later partition of the same MB sees the earlier
                  // ones' mvs in the block field, and neighbor C falls
                  // back to D when it lies in a not-yet-decoded
                  // partition (block-level `done`).
                  val subTypes = new Array[Int](4)
                  var sb = 0
                  while (sb < 4) {
                    subTypes(sb) = r.ue()
                    if (subTypes(sb) > 3) return None // B sub-types: refuse
                    sb += 1
                  }
                  // P_8x8: one te(v) ref_idx per sub-MB (P_8x8ref0
                  // infers 0 at any active count)
                  val sref = Array(0, 0, 0, 0)
                  if (mbType == 3 && numRef0 > 1) {
                    var i = 0
                    while (i < 4) {
                      sref(i) =
                        if (numRef0 == 2) 1 - r.u(1)
                        else {
                          val v = r.ue()
                          if (v >= numRef0) return None
                          v
                        }
                      i += 1
                    }
                  }
                  sb = 0
                  while (sb < 4) {
                    val sbx = mx * 4 + 2 * (sb % 2)
                    val sby = myy * 4 + 2 * (sb / 2)
                    // sub-partition rectangles in 4x4-block units,
                    // spec decode order (top-before-bottom,
                    // left-before-right)
                    val parts: Array[(Int, Int, Int, Int)] = subTypes(sb) match {
                      case 0 => Array((sbx, sby, 2, 2))
                      case 1 => Array((sbx, sby, 2, 1), (sbx, sby + 1, 2, 1))
                      case 2 => Array((sbx, sby, 1, 2), (sbx + 1, sby, 1, 2))
                      case _ => Array((sbx, sby, 1, 1), (sbx + 1, sby, 1, 1),
                        (sbx, sby + 1, 1, 1), (sbx + 1, sby + 1, 1, 1))
                    }
                    var pi = 0
                    while (pi < parts.length) {
                      val (pbx, pby, pwB, phB) = parts(pi)
                      val pr = predictMvPart(mvs, done, refs0, sref(sb),
                        bW, bH, pbx, pby, pwB, 0)
                      val pmv = (pr._1 + r.se(), pr._2 + r.se())
                      if (!mcInto(
                          dpb(sref(sb)).lumaP, dpb(sref(sb)).cbP,
                          dpb(sref(sb)).crP,
                          nl, ncb, ncr)(
                          pbx * 4, pby * 4, pwB * 4, phB * 4, pmv)) return None
                      if (ppsWeighted) applyWeights(pbx * 4, pby * 4,
                        pwB * 4, phB * 4, sref(sb))
                      writePart(mvs, refs0, pbx, pby, pwB, phB, pmv, sref(sb))
                      mvAbs += math.abs(pmv._1) + math.abs(pmv._2)
                      pi += 1
                    }
                    sb += 1
                  }
                  val scbp = r.ue() match {
                    case 0 => 0
                    case 11 => 15
                    case _ => return None
                  }
                  if (scbp == 15 && !decodeMbResiduals(mx, myy)) return None
                  mb += 1
                } else if (!isB && mbType > 0) {
                  // P_L0_L0_16x8 (1) / 8x16 (2): two partitions with
                  // per-partition ref_idx (all first), then mvds in
                  // order — each prediction runs the DIRECTIONAL rule
                  // and sees partition 0's mvs in the block field
                  // per-partition te(v) ref_idx over the N-deep DPB
                  // (cMax 1 = inverted bit, cMax > 1 = plain ue)
                  val refs = Array(0, 0)
                  if (numRef0 > 1) {
                    var rp = 0
                    while (rp < 2) {
                      refs(rp) =
                        if (numRef0 == 2) 1 - r.u(1)
                        else {
                          val v = r.ue()
                          if (v >= numRef0) return None
                          v
                        }
                      rp += 1
                    }
                  }
                  var part = 0
                  while (part < 2) {
                    val (pbx, pby, pwB, phB, dir) =
                      if (mbType == 1) // 16x8: top then bottom
                        (mx * 4, myy * 4 + 2 * part, 4, 2,
                          if (part == 0) 1 else 2)
                      else             // 8x16: left then right
                        (mx * 4 + 2 * part, myy * 4, 2, 4,
                          if (part == 0) 3 else 4)
                    val pr = predictMvPart(mvs, done, refs0, refs(part),
                      bW, bH, pbx, pby, pwB, dir)
                    val pmv = (pr._1 + r.se(), pr._2 + r.se())
                    if (!mcInto(
                        dpb(refs(part)).lumaP, dpb(refs(part)).cbP,
                        dpb(refs(part)).crP,
                        nl, ncb, ncr)(
                        pbx * 4, pby * 4, pwB * 4, phB * 4, pmv)) return None
                    if (ppsWeighted) applyWeights(pbx * 4, pby * 4,
                      pwB * 4, phB * 4, refs(part))
                    writePart(mvs, refs0, pbx, pby, pwB, phB, pmv, refs(part))
                    mvAbs += math.abs(pmv._1) + math.abs(pmv._2)
                    part += 1
                  }
                  // coded_block_pattern, me(v) Inter: codeNum 0 -> 0,
                  // 11 -> 15 (whole-MB luma residuals over the
                  // partitioned prediction); other entries refused
                  val pcbp = r.ue() match {
                    case 0 => 0
                    case 11 => 15
                    case _ => return None
                  }
                  if (pcbp == 15 && !decodeMbResiduals(mx, myy)) return None
                  mb += 1
                } else {
                // ref_idx_l0, te(v): absent for 1 active ref; with 2
                // a single INVERTED bit ('1' → 0, '0' → 1); with more
                // (multi-ref B 16x16 over the N-deep DPB) te(v)
                // degenerates to plain ue(v) (§9.1: cMax > 1)
                val refL0 =
                  if (!useL0 || numRef0 == 1) 0
                  else if (numRef0 == 2) 1 - r.u(1)
                  else {
                    val v = r.ue()
                    if (v >= numRef0) return None
                    v
                  }
                val mv =
                  if (useL0) {
                    val pr = predictMvPart(mvs, done, refs0, refL0,
                      bW, bH, mx * 4, myy * 4, 4, 0)
                    (pr._1 + r.se(), pr._2 + r.se())
                  } else (0, 0)
                val mvL1 =
                  if (useL1) {
                    val pr = predictMvPart(mvs1, done, refs1, 0,
                      bW, bH, mx * 4, myy * 4, 4, 0)
                    (pr._1 + r.se(), pr._2 + r.se())
                  } else (0, 0)
                // coded_block_pattern, me(v) Inter column of Table 9-4:
                // only the two codeNums this subset emits are entered
                // (0 → cbp 0, 11 → cbp 15 luma-only) — same refuse-not-
                // guess posture as the intra cbp entries
                val cbp = r.ue() match {
                  case 0 => 0
                  case 11 => 15
                  case _ => return None
                }
                // list0[refL0] = dpb(refL0): the indexed DPB serves
                // any active reference, not just the two aliases
                if (useL0 && !mcInto(
                    dpb(refL0).lumaP, dpb(refL0).cbP, dpb(refL0).crP,
                    nl, ncb, ncr)(mx * 16, myy * 16, 16, 16, mv)) return None
                if (useL1 &&
                    !mcInto(luma2, cb2, cr2,
                      if (useL0) tl else nl,
                      if (useL0) tcb else ncb,
                      if (useL0) tcr else ncr)(
                      mx * 16, myy * 16, 16, 16, mvL1)) return None
                if (useL0 && useL1) {
                  if (wBi) biWeightedRect(mx * 16, myy * 16, 16, 16, refL0)
                  else biAverage(mx, myy)
                } else if (wBi && isB)
                  applyWeightsB(mx * 16, myy * 16, 16, 16,
                    if (useL0) 0 else 1, if (useL0) refL0 else 0)
                if (!isB && ppsWeighted)
                  applyWeights(mx * 16, myy * 16, 16, 16, refL0)
                if (cbp == 15 && !decodeMbResiduals(mx, myy)) return None
                if (useL0) { writePart(mvs, refs0, mx * 4, myy * 4, 4, 4, mv, refL0)
                  mvAbs += math.abs(mv._1) + math.abs(mv._2) }
                if (useL1) { writePart(mvs1, refs1, mx * 4, myy * 4, 4, 4, mvL1, 0)
                  mvAbs += math.abs(mvL1._1) + math.abs(mvL1._2) }
                mb += 1
                }
              }
            }
            if (mb == firstMb) return None // empty slice: malformed
            pMb = mb
            if (pMb == nMbs) { // picture complete
              if (collect != null)
                collect(FrameState(nFrames, intra = false, isB = pIsB,
                  w, h, pnl.clone(), pTcs, pMvs, pRefs0, pMvs1, pRefs1,
                  pncb.clone(), pncr.clone()))
              if (nalRefIdc != 0) { // reference: enters the DPB
                // newest-first insert; pixels, POC and the two-list
                // motion field age together, entries past maxDpb
                // retire (their references become honest refusals)
                dpb.insert(0, new DpbEntry(pnl, pncb, pncr, currPoc,
                  pMvs, pRefs0, pMvs1, pRefs1))
                while (dpb.size > maxDpb) dpb.remove(dpb.size - 1)
                syncDpb()
              }
              // a NON-reference picture (nal_ref_idc 0) is counted
              // and emitted but never becomes anyone's reference
              var fl = 0L; pnl.foreach(fl += _)
              var fc = 0L; pncb.foreach(fc += _); pncr.foreach(fc += _)
              pnl = null; pncb = null; pncr = null
              pMvs = null; pRefs0 = null; pMvs1 = null; pRefs1 = null
              pTcs = null; pMb = 0
              nFrames += 1
              lumaSum += fl; chromaSum += fc; weighted += nFrames.toLong * (fl + fc)
            }
          case _ => ()
        }
      }
      if (pnl != null) return None // stream ended mid-picture
      sps.map(i => InterFrames(nFrames, i.width, i.height,
        lumaSum, chromaSum, weighted, nSkipped, mvAbs, nLevels))
    } catch { case _: IllegalStateException => None }
  }
}
