package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, batch-decoded per partition.
  *
  * The Spark-side machinery (schema, partition-batched processing,
  * typed output) is real, and so is the decode: container/marker
  * metadata (JPEG markers + EXIF strip, BMP, PCM WAV, MP4 box tree —
  * [[decodeJpeg]]/[[stripExif]]/[[decodeBmp]]/[[decodeWav]]/
  * [[decodeMp4]]) AND frame-level pixels (baseline JPEG through the
  * full Huffman+DCT path in [[decodeJpegPixels]], PNG/APNG filter
  * reconstruction + compositing, GIF LZW, MP4 sample extraction via
  * the real stts/stsz/stsc/stco demux in [[decodeMp4Samples]]). The
  * only step beyond container/marker scope is codec decode of video
  * sample payloads (H.26x bitstreams); everything else produces real
  * content values. At scale this runs embarrassingly parallel: one task per partition,
  * no shuffle, codec state initialized once per partition (the
  * mapPartitions pattern — the Scala analogue of `mapInPandas` batch
  * UDFs).
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, head: Long, feature: Long)

  /** Text → binary payload frame (the harness has no real media
    * column; any binary column slots in identically).
    */
  def asBinaryFrame(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      encode(col(payloadCol), "UTF-8").as("payload"))

  /** REAL content-feature decode, dispatched on magic bytes: the
    * feature is the decoded pixel sum for image payloads (baseline
    * JPEG via the full Huffman+IDCT path, PNG via filter
    * reconstruction, GIF via the LZW decoder, BMP via the header/pixel
    * walk), and for opaque payloads the rolling byte fingerprint
    * `h ← (h·131 + byte) mod 1000003` — the q40-style content hash any
    * binary column supports.
    */
  def decodeFeature(payload: Array[Byte]): (Long, Long) = {
    val head = if (payload.nonEmpty) (payload(0) & 0xff).toLong else -1L
    val feature = decodeJpegPixels(payload).map(_._3)
      .orElse(decodePng(payload).map(_._3))
      .orElse(decodeGif(payload).map(_._3))
      .orElse(decodeBmp(payload).map(_._3.toLong))
      .getOrElse {
        var hsh = 0L
        var i = 0
        while (i < payload.length) {
          hsh = (hsh * 131 + (payload(i) & 0xff)) % 1000003L; i += 1
        }
        hsh
      }
    (head, feature)
  }

  /** Partition-batched feature extraction over [[decodeFeature]]. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition init happens here (codec handles, model weights…)
      rows.map { r =>
        val (head, feature) = decodeFeature(r.payload)
        MediaFeatures(r.doc_id, r.payload.length.toLong, head, feature)
      }
    }
  }

  /** REAL image resize: decode the grayscale PNG grid, nearest-
    * neighbor sample to (tw, th) — `src(⌊x·w/tw⌋, ⌊y·h/th⌋)`, the
    * deterministic integer mapping — and re-encode. Non-PNG payloads
    * pass through unchanged (a pipeline resizes what it can decode).
    */
  def resizeImage(payload: Array[Byte], tw: Int, th: Int): Array[Byte] =
    decodePngPixels(payload) match {
      case Some((w, h, px)) =>
        encodePngGray(tw, th,
          (x, y) => px((y.toLong * h / th).toInt * w + (x.toLong * w / tw).toInt))
      case None => payload
    }

  // ---- Real decoders for self-describing structure -------------------
  //
  // BMP/WAV headers, the JPEG marker stream, and the MP4 box tree are
  // fully specified without a codec library, so metadata decode is
  // REAL for all four families — and frame-level pixel decode is real
  // for baseline JPEG (below), PNG/APNG and GIF. Dispatch is by magic
  // bytes.

  final case class MediaMeta(
      doc_id: Long, kind: String, width: Int, height: Int,
      sample_rate: Int, duration_ms: Long, rms: Double, n_bytes: Long,
      pix_sum: Long = 0L)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** BMP header parse: (width, height, bitsPerPixel). */
  def decodeBmp(p: Array[Byte]): Option[(Int, Int, Int)] =
    if (p.length >= 30 && p(0) == 'B' && p(1) == 'M')
      Some((le32(p, 18), le32(p, 22), le16(p, 28)))
    else None

  /** RIFF/WAVE parse: walks chunks for `fmt ` + `data`, returns
    * (sampleRate, durationMs, RMS of 16-bit PCM samples). Only
    * uncompressed PCM16 is handled — anything else is "not ours".
    */
  def decodeWav(p: Array[Byte]): Option[(Int, Long, Double)] = {
    if (p.length < 44 || tag(p, 0) != "RIFF" || tag(p, 8) != "WAVE") return None
    // the offset is a Long: a malformed large-positive chunk size
    // (e.g. 0x7FFFFFF0) would wrap an Int offset negative, pass the
    // loop guard, and crash tag() — the walk must terminate instead
    var o = 12L
    var rate = 0
    var channels = 0
    var bits = 0
    var rms = 0.0
    var nSamples = 0L
    while (o + 8 <= p.length) {
      val oi = o.toInt // o + 8 <= length, so o fits an Int here
      val id = tag(p, oi)
      val sz = le32(p, oi + 4)
      // malformed negative chunk size would walk backwards (infinite
      // loop) — a decoder fed arbitrary bytes must bail, not hang an
      // executor
      if (sz < 0) return None
      if (id == "fmt " && o + 24 <= p.length) {
        if (le16(p, oi + 8) != 1) return None // not PCM
        channels = le16(p, oi + 10)
        rate = le32(p, oi + 12)
        bits = le16(p, oi + 22)
      } else if (id == "data" && bits == 16 && channels > 0) {
        val end = math.min(p.length.toLong, o + 8L + sz).toInt
        var i = oi + 8
        var sumSq = 0.0
        var n = 0L
        while (i + 1 < end) {
          val s = le16(p, i).toShort.toDouble
          sumSq += s * s
          n += 1
          i += 2
        }
        if (n > 0) rms = math.sqrt(sumSq / n)
        nSamples = n / math.max(1, channels)
      }
      o += 8L + sz + (sz & 1) // RIFF chunks are 2-byte aligned
    }
    if (rate > 0 && bits == 16) Some((rate, nSamples * 1000L / rate, rms))
    else None
  }

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** JPEG frame-header parse: (width, height, nComponents) from the
    * first SOFn segment — the same marker-walk style as [[decodeWav]]'s
    * chunk walk. No entropy decode (that needs a codec); dimensions,
    * component count and structural validity live entirely in the
    * marker stream. A payload that doesn't open with SOI, walks a
    * malformed segment (bad length, truncated), or reaches SOS/EOI
    * without a frame header is "not ours" → None.
    */
  def decodeJpeg(p: Array[Byte]): Option[(Int, Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xFF || (p(1) & 0xff) != 0xD8) return None
    var o = 2
    while (o + 4 <= p.length) {
      if ((p(o) & 0xff) != 0xFF) return None // lost marker sync
      var m = p(o + 1) & 0xff
      while (m == 0xFF && o + 2 < p.length) { o += 1; m = p(o + 1) & 0xff } // fill bytes
      if (m == 0xD9 || m == 0xDA) return None // EOI/SOS before any SOF
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) o += 2 // parameterless markers
      else {
        // fill-byte skipping may have advanced o past the loop guard
        if (o + 4 > p.length) return None
        val len = be16(p, o + 2)
        if (len < 2 || o + 2 + len > p.length) return None // malformed: bail, never loop
        // SOFn = C0–CF minus DHT (C4), DAC (CC): baseline, progressive,
        // lossless … all share precision(1) height(2) width(2) ncomp(1)
        if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          if (len < 8) return None
          val h = be16(p, o + 5)
          val w = be16(p, o + 7)
          val nc = p(o + 9) & 0xff
          return if (w > 0 && h > 0) Some((w, h, nc)) else None
        }
        o += 2 + len
      }
    }
    None
  }

  /** Remove APP1 (EXIF/XMP) segments from a JPEG, leaving every other
    * byte identical — the metadata-scrub pass a training pipeline runs
    * before content hashing (EXIF carries PII: GPS, timestamps, device
    * serials). From SOS onward the entropy-coded stream is copied
    * verbatim. Non-JPEG payloads pass through unchanged.
    */
  def stripExif(p: Array[Byte]): Array[Byte] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xFF || (p(1) & 0xff) != 0xD8) return p
    val out = new java.io.ByteArrayOutputStream(p.length)
    out.write(p, 0, 2)
    var o = 2
    while (o + 2 <= p.length) {
      if ((p(o) & 0xff) != 0xFF) { out.write(p, o, p.length - o); return out.toByteArray }
      val m = p(o + 1) & 0xff
      if (m == 0xDA || m == 0xD9) { out.write(p, o, p.length - o); return out.toByteArray }
      if (m == 0xFF) { out.write(p, o, 1); o += 1 } // single fill byte
      else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
        out.write(p, o, 2); o += 2
      } else {
        if (o + 4 > p.length) { out.write(p, o, p.length - o); return out.toByteArray }
        val len = be16(p, o + 2)
        if (len < 2 || o + 2 + len > p.length) {
          out.write(p, o, p.length - o); return out.toByteArray
        }
        if (m != 0xE1) out.write(p, o, 2 + len) // drop only APP1
        o += 2 + len
      }
    }
    out.toByteArray
  }

  /** MP4 / ISO-BMFF metadata parse: (major brand, timescale,
    * duration_ms) from the ftyp + moov/mvhd box walk — the container
    * structure is fully specified without any codec
    * ([[decodeMp4Samples]] goes further and demuxes the actual sample
    * bytes; only codec decode of those payloads is out of scope).
    * Boxes are
    * [size:u32BE][type:4cc][payload] with size covering the header;
    * size==1 → 64-bit extended size follows, size==0 → box runs to
    * EOF. The walk bails (None) on any malformed size rather than
    * looping or overrunning — same posture as [[decodeWav]].
    */
  def decodeMp4(p: Array[Byte]): Option[(String, Int, Long)] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    if (p.length < 16 || tag(p, 4) != "ftyp") return None
    val brand = tag(p, 8)
    // walk top-level boxes for moov, then moov's children for mvhd
    def walk(from: Long, end: Long, want: String): Option[(Long, Long)] = {
      var o = from
      while (o + 8 <= end) {
        val oi = o.toInt
        var sz = be32(oi)
        var hdr = 8L
        if (sz == 1) {
          if (o + 16 > end) return None
          sz = be64(oi + 8); hdr = 16L
          if (sz < 16) return None // extended size must cover both headers
        } else if (sz == 0) sz = end - o // box runs to EOF
        else if (sz < 8) return None // malformed: would walk backwards
        if (o + sz > end) return None // truncated box
        if (tag(p, oi + 4) == want) return Some((o + hdr, o + sz))
        o += sz
      }
      None
    }
    for {
      (moovStart, moovEnd) <- walk(0L, p.length.toLong, "moov")
      (mvhdStart, mvhdEnd) <- walk(moovStart, moovEnd, "mvhd")
      out <- {
        val v = p(mvhdStart.toInt) & 0xff // version byte
        // v0: ver/flags(4) created(4) modified(4) timescale(4) duration(4)
        // v1: ver/flags(4) created(8) modified(8) timescale(4) duration(8)
        val need = if (v == 1) 4 + 8 + 8 + 4 + 8 else 4 + 4 + 4 + 4 + 4
        if (mvhdStart + need > mvhdEnd) None
        else {
          val tsOff = mvhdStart.toInt + (if (v == 1) 20 else 12)
          val ts = be32(tsOff)
          val dur = if (v == 1) be64(tsOff + 4) else be32(tsOff + 4)
          if (ts <= 0 || ts > Int.MaxValue) None
          else Some((brand, ts.toInt, dur * 1000L / ts))
        }
      }
    } yield out
  }

  /** Deterministic minimal-but-valid MP4 synthesis (gate generator,
    * arithmetic layout like [[synthesizeJpeg]]): ftyp(brand, one
    * compatible brand) + free(`freeBytes`) + moov(mvhd v0, timescale,
    * durationUnits) + mdat(`mdatBytes`). Total = 152 + freeBytes +
    * mdatBytes.
    */
  def synthesizeMp4(brand: String, timescale: Int, durationUnits: Long,
      freeBytes: Int, mdatBytes: Int): Array[Byte] = {
    require(brand.length == 4, "brand is a 4cc")
    val out = new java.io.ByteArrayOutputStream(152 + freeBytes + mdatBytes)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w32(v: Long): Unit = { w8((v >> 24).toInt); w8((v >> 16).toInt); w8((v >> 8).toInt); w8(v.toInt) }
    def four(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    w32(20); four("ftyp"); four(brand); w32(0); four(brand)
    w32(8L + freeBytes); four("free")
    var i = 0
    while (i < freeBytes) { w8(i); i += 1 }
    w32(116); four("moov")
    w32(108); four("mvhd")
    w32(0) // version 0 + flags
    w32(0); w32(0) // created, modified
    w32(timescale); w32(durationUnits)
    w32(0x00010000L); w8(0x01); w8(0); w8(0); w8(0) // rate 1.0, volume 1.0, reserved
    (1 to 2).foreach(_ => w32(0)) // reserved[2]
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
      .foreach(w32) // unity matrix
    (1 to 6).foreach(_ => w32(0)) // pre_defined[6]
    w32(2) // next_track_ID
    w32(8L + mdatBytes); four("mdat")
    i = 0
    while (i < mdatBytes) { w8(0x55); i += 1 }
    out.toByteArray
  }

  /** MP4 synthesis WITH a real sample-table track (write-side
    * counterpart of [[decodeMp4Samples]]): ftyp + moov(mvhd +
    * trak/mdia/minf/stbl with real stsd/stts/stsc/stsz/stco) + mdat.
    * `n` samples, sample `i` sized `1 + (seed + i) mod 17` bytes with
    * byte `j` (mdat-global index) = `(seed + j) mod 251`; one stts run
    * of `delta` units per sample; samples packed into chunks of 7 via
    * stsc with per-chunk ABSOLUTE file offsets in stco — the
    * offset/size arithmetic a real demuxer runs.
    */
  def synthesizeMp4Track(timescale: Int, n: Int, delta: Int,
      seed: Long): Array[Byte] = {
    require(n >= 1 && delta >= 1, "positive sample count and delta")
    val szs = Array.tabulate(n)(i => 1 + (((seed + i) % 17 + 17) % 17).toInt)
    val starts = szs.scanLeft(0L)(_ + _)
    synthesizeMp4Samples(timescale, delta,
      IndexedSeq.tabulate(n)(i => Array.tabulate(szs(i))(j =>
        ((((seed + starts(i) + j) % 251) + 251) % 251).toByte)))
  }

  /** ISO-BMFF synthesis around CALLER-SUPPLIED sample payloads — the
    * general write-side of [[mp4SampleTable]]: each payload becomes
    * one sample (stsz = payload lengths, mdat = concatenation),
    * chunked 7-per-chunk through stsc/stco exactly like
    * [[synthesizeMp4Track]]. With JFIF payloads this produces a
    * Motion-JPEG MP4 ([[decodeMjpegSamples]] decodes it end-to-end);
    * `codec` is the stsd sample-entry 4cc.
    */
  def synthesizeMp4Samples(timescale: Int, delta: Int,
      samples: Seq[Array[Byte]], codec: String = "mp4v",
      sampleEntry: Option[Array[Byte]] = None): Array[Byte] = {
    require(samples.nonEmpty && delta >= 1, "samples and positive delta")
    require(codec.length == 4, "codec is a 4cc")
    val n = samples.length
    val sizes = samples.map(_.length).toArray
    val perChunk = 7
    val nChunks = (n + perChunk - 1) / perChunk
    def box(tag4: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(8 + body.length)
      def w8(v: Int): Unit = out.write(v & 0xff)
      def w32(v: Long): Unit = { w8((v >> 24).toInt); w8((v >> 16).toInt); w8((v >> 8).toInt); w8(v.toInt) }
      w32(8L + body.length)
      out.write(tag4.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(body, 0, body.length)
      out.toByteArray
    }
    def be32s(vs: Long*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(vs.length * 4)
      vs.foreach { v =>
        out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      }
      out.toByteArray
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32s(0) ++
      "isom".getBytes("US-ASCII"))
    val totalDur = n.toLong * delta
    val mvhd = box("mvhd", be32s(0, 0, 0, timescale.toLong, totalDur,
      0x00010000L) ++ Array[Byte](1, 0, 0, 0) ++ be32s(0, 0,
      0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L,
      0, 0, 0, 0, 0, 0, 2))
    // stsd: one minimal sample entry (size 16, the caller's 4cc), or
    // the caller's full sample-entry box (avc1 + avcC for H.264)
    val stsd = box("stsd", be32s(0, 1) ++ sampleEntry.getOrElse(
      be32s(16) ++ codec.getBytes("US-ASCII") ++ be32s(0, 0)))
    val stts = box("stts", be32s(0, 1, n.toLong, delta.toLong))
    // stsc: every chunk holds `perChunk` samples; a shorter final
    // chunk needs its own run (first_chunk, samples, desc_index)
    val lastSamples = n - (nChunks - 1) * perChunk
    val stscRuns =
      if (nChunks == 1) Seq((1L, lastSamples.toLong))
      else if (lastSamples == perChunk) Seq((1L, perChunk.toLong))
      else Seq((1L, perChunk.toLong), (nChunks.toLong, lastSamples.toLong))
    val stsc = box("stsc", be32s(0, stscRuns.length.toLong) ++
      be32s(stscRuns.flatMap { case (f, s) => Seq(f, s, 1L) }: _*))
    val stsz = box("stsz", be32s(0, 0, n.toLong) ++
      be32s(sizes.map(_.toLong).toIndexedSeq: _*))
    // stco chunk offsets are ABSOLUTE file offsets into mdat's payload:
    // assemble everything before mdat first to know where it lands
    val chunkStarts = (0 until nChunks).map { c =>
      sizes.take(c * perChunk).map(_.toLong).sum
    }
    def stcoWith(mdatPayloadAt: Long) = box("stco",
      be32s(0, nChunks.toLong) ++
        be32s(chunkStarts.map(_ + mdatPayloadAt): _*))
    def stblWith(stco: Array[Byte]) = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    def moovWith(stco: Array[Byte]) = box("moov", mvhd ++
      box("trak", box("mdia", box("minf", stblWith(stco)))))
    // stco size is independent of the offsets' values: measure once
    val probe = moovWith(stcoWith(0L))
    val mdatPayloadAt = ftyp.length.toLong + probe.length + 8
    val moov = moovWith(stcoWith(mdatPayloadAt))
    ftyp ++ moov ++ box("mdat", samples.toArray.flatten)
  }

  /** REAL MP4 sample extraction: the stbl walk a demuxer runs —
    * stts (decode durations), stsz (sizes), stsc (sample→chunk runs),
    * stco (chunk offsets) — then each sample's ACTUAL BYTES are read
    * from mdat via the chunk offset + intra-chunk size arithmetic.
    * Returns (n_samples, duration_units, Σ sizes,
    * Σ (i+1)·(byte-sum of sample i)) — the position-weighted checksum
    * is wrong unless every offset and size lands exactly. Codec
    * decode of the sample payloads (real video frames) is the one
    * step beyond container scope. None when there is no complete
    * sample table.
    */
  def decodeMp4Samples(p: Array[Byte]): Option[(Long, Long, Long, Long)] =
    mp4SampleTable(p).map { case (dur, ranges) =>
      var checksum = 0L; var sumSizes = 0L
      var i = 0
      while (i < ranges.length) {
        val (off, sz) = ranges(i)
        var bs = 0L
        var j = 0
        while (j < sz) { bs += (p(off.toInt + j) & 0xff); j += 1 }
        checksum += (i + 1).toLong * bs
        sumSizes += sz
        i += 1
      }
      (ranges.length.toLong, dur, sumSizes, checksum)
    }

  /** MJPEG-in-MP4 decode end-to-end: the [[mp4SampleTable]] demux
    * walk composed with the baseline-DCT JPEG decoder — each sample's
    * bytes are cut from mdat and pushed through [[decodeJpegPixels]]
    * as an independent JFIF frame (Motion JPEG: no inter-frame state,
    * which is exactly why it is the one video codec that composes
    * from the still-image decoder). Returns (n_frames, duration_units,
    * Σ pixel-sum, Σ (i+1)·pixel-sum_i) — the frame-weighted checksum
    * is wrong unless every container offset AND every entropy-coded
    * block decodes exactly. None if the sample table is incomplete or
    * any sample fails to decode as a JPEG.
    */
  def decodeMjpegSamples(p: Array[Byte]): Option[(Long, Long, Long, Long)] =
    mp4SampleTable(p).flatMap { case (dur, ranges) =>
      var pix = 0L; var weighted = 0L
      var i = 0
      var ok = true
      while (i < ranges.length && ok) {
        val (off, sz) = ranges(i)
        decodeJpegPixels(java.util.Arrays.copyOfRange(
            p, off.toInt, off.toInt + sz)) match {
          case Some((_, _, s)) => pix += s; weighted += (i + 1).toLong * s
          case None => ok = false
        }
        i += 1
      }
      if (ok) Some((ranges.length.toLong, dur, pix, weighted)) else None
    }

  /** The stbl walk shared by the sample-level decoders: resolves
    * stts/stsz/stsc/stco into (duration_units, per-sample ABSOLUTE
    * (offset, size) ranges into the file), validating that every
    * sample lands in bounds. None when there is no complete sample
    * table.
    */
  private def mp4SampleTable(p: Array[Byte]): Option[(Long, Array[(Long, Int)])] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    if (p.length < 16 || tag(p, 4) != "ftyp") return None
    def walk(from: Long, end: Long, want: String): Option[(Long, Long)] =
      mp4BoxWalk(p, from, end, want)
    for {
      (moovS, moovE) <- walk(0L, p.length.toLong, "moov")
      (trakS, trakE) <- walk(moovS, moovE, "trak")
      (mdiaS, mdiaE) <- walk(trakS, trakE, "mdia")
      (minfS, minfE) <- walk(mdiaS, mdiaE, "minf")
      (stblS, stblE) <- walk(minfS, minfE, "stbl")
      (sttsS, sttsE) <- walk(stblS, stblE, "stts")
      (stszS, stszE) <- walk(stblS, stblE, "stsz")
      (stscS, stscE) <- walk(stblS, stblE, "stsc")
      (stcoS, stcoE) <- walk(stblS, stblE, "stco")
      out <- {
        // stts: duration = Σ count·delta over the runs
        val nRuns = be32(sttsS.toInt + 4)
        if (sttsS + 8 + nRuns * 8 > sttsE) None
        else {
          var dur = 0L; var nFromStts = 0L
          (0 until nRuns.toInt).foreach { i =>
            val c = be32(sttsS.toInt + 8 + i * 8)
            dur += c * be32(sttsS.toInt + 12 + i * 8)
            nFromStts += c
          }
          // stsz: per-sample sizes (or the uniform default)
          val dflt = be32(stszS.toInt + 4)
          val n = be32(stszS.toInt + 8)
          val sizesOk = dflt != 0 || stszS + 12 + n * 4 <= stszE
          if (n <= 0 || n != nFromStts || !sizesOk || n > 1000000) None
          else {
            val sizes = Array.tabulate(n.toInt)(i =>
              if (dflt != 0) dflt else be32(stszS.toInt + 12 + i * 4))
            // stsc runs → samples-per-chunk for each chunk index
            val nsc = be32(stscS.toInt + 4)
            if (stscS + 8 + nsc * 12 > stscE || nsc <= 0) None
            else {
              val runs = (0 until nsc.toInt).map { i =>
                (be32(stscS.toInt + 8 + i * 12),
                  be32(stscS.toInt + 12 + i * 12))
              }
              val nChunks = be32(stcoS.toInt + 4)
              if (stcoS + 8 + nChunks * 4 > stcoE || nChunks <= 0) None
              else {
                val offsets = Array.tabulate(nChunks.toInt)(i =>
                  be32(stcoS.toInt + 8 + i * 4))
                // walk samples chunk by chunk, resolving each to its
                // absolute (offset, size) via the intra-chunk cursor
                val ranges = new Array[(Long, Int)](n.toInt)
                var sample = 0
                var chunk = 0
                var ok = true
                while (chunk < nChunks && sample < n && ok) {
                  val inChunk = runs.takeWhile(_._1 <= chunk + 1).lastOption
                    .map(_._2.toInt).getOrElse(0)
                  var off = offsets(chunk)
                  var k = 0
                  while (k < inChunk && sample < n && ok) {
                    val sz = sizes(sample).toInt
                    if (off + sz > p.length) ok = false
                    else {
                      ranges(sample) = (off, sz)
                      off += sz; sample += 1
                    }
                    k += 1
                  }
                  chunk += 1
                }
                if (!ok || sample != n) None
                else Some((dur, ranges))
              }
            }
          }
        }
      }
    } yield out
  }

  /** ISO-BMFF box scan: first child box tagged `want` in [from, end),
    * returning (payload start after the 8/16-byte header, box end).
    * Handles 64-bit (`size == 1`) and to-end (`size == 0`) boxes.
    * Shared by [[mp4SampleTable]] and the avc1 stsd walk.
    */
  private def mp4BoxWalk(p: Array[Byte], from: Long, end: Long,
      want: String): Option[(Long, Long)] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    var o = from
    while (o + 8 <= end) {
      val oi = o.toInt
      var sz = be32(oi)
      var hdr = 8L
      if (sz == 1) {
        if (o + 16 > end) return None
        sz = (be32(oi + 8) << 32) | be32(oi + 12); hdr = 16L
        if (sz < 16) return None
      } else if (sz == 0) sz = end - o
      else if (sz < 8) return None
      if (o + sz > end) return None
      if (tag(p, oi + 4) == want) return Some((o + hdr, o + sz))
      o += sz
    }
    None
  }

  /** Mux an Annex-B H.264 stream into a REAL `avc1` MP4 track — the
    * ISO 14496-15 packaging: SPS/PPS NALs move OUT OF BAND into the
    * avcC decoder-configuration record inside the stsd sample entry,
    * and each slice NAL becomes one MP4 sample framed AVCC-style as a
    * 4-byte big-endian length + NAL (no start codes inside samples).
    * The [[graft.operators.H264]] synthesizers emit one slice per
    * access unit except the multi-slice family, so sample granularity
    * is per-NAL here — the rebuilt stream is NAL-identical either
    * way. Refuses NAL types outside {SPS, PPS, slice, IDR}; profile/
    * compat/level bytes are lifted from the SPS itself. Reference
    * scope anchor: media bytes ride the same row path as text
    * (`/root/reference/src/main/java/com/kugou/loader/clickhouse/mapper/AbstractClickhouseLoaderMapper.java:159-248`).
    */
  def synthesizeMp4Avc1(annexB: Array[Byte], width: Int, height: Int,
      timescale: Int, delta: Int): Array[Byte] = {
    val nals = graft.operators.H264.nalUnits(annexB)
    require(nals.nonEmpty, "no NAL units")
    val sps = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val pps = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val samples = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    nals.foreach { case (s, e) =>
      val nal = java.util.Arrays.copyOfRange(annexB, s, e)
      (annexB(s) & 0x1f) match {
        case 7 => sps += nal
        case 8 => pps += nal
        case 1 | 5 =>
          val fr = new Array[Byte](4 + nal.length)
          fr(0) = (nal.length >> 24).toByte; fr(1) = (nal.length >> 16).toByte
          fr(2) = (nal.length >> 8).toByte; fr(3) = nal.length.toByte
          System.arraycopy(nal, 0, fr, 4, nal.length)
          samples += fr
        case t =>
          throw new IllegalArgumentException(s"NAL type $t out of avc1 mux scope")
      }
    }
    require(sps.nonEmpty && pps.nonEmpty && samples.nonEmpty,
      "avc1 track needs SPS + PPS + slices")
    val cfg = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = cfg.write(v & 0xff)
    def wps(ps: Array[Byte]): Unit = {
      w8(ps.length >> 8); w8(ps.length); cfg.write(ps, 0, ps.length)
    }
    w8(1)                    // configurationVersion
    w8(sps.head(1) & 0xff)   // AVCProfileIndication (SPS byte 1)
    w8(sps.head(2) & 0xff)   // profile_compatibility
    w8(sps.head(3) & 0xff)   // AVCLevelIndication
    w8(0xfc | 3)             // reserved ++ lengthSizeMinusOne = 3
    w8(0xe0 | sps.length)    // reserved ++ numOfSequenceParameterSets
    sps.foreach(wps)
    w8(pps.length)
    pps.foreach(wps)
    val avcCBody = cfg.toByteArray
    val avcC = new java.io.ByteArrayOutputStream()
    def w32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write((v >> 24) & 0xff); o.write((v >> 16) & 0xff)
      o.write((v >> 8) & 0xff); o.write(v & 0xff)
    }
    w32(avcC, 8 + avcCBody.length)
    avcC.write("avcC".getBytes("US-ASCII"), 0, 4)
    avcC.write(avcCBody, 0, avcCBody.length)
    // VisualSampleEntry: 78-byte fixed body, then the avcC child
    val ent = new java.io.ByteArrayOutputStream()
    val body = new java.io.ByteArrayOutputStream()
    (0 until 6).foreach(_ => body.write(0)) // reserved
    body.write(0); body.write(1)            // data_reference_index
    (0 until 16).foreach(_ => body.write(0)) // pre_defined/reserved
    body.write((width >> 8) & 0xff); body.write(width & 0xff)
    body.write((height >> 8) & 0xff); body.write(height & 0xff)
    w32(body, 0x00480000); w32(body, 0x00480000) // 72 dpi h/v
    w32(body, 0)                             // reserved
    body.write(0); body.write(1)             // frame_count
    (0 until 32).foreach(_ => body.write(0)) // compressorname
    body.write(0); body.write(0x18)          // depth
    body.write(0xff); body.write(0xff)       // pre_defined = -1
    val bodyB = body.toByteArray
    val avcCB = avcC.toByteArray
    w32(ent, 8 + bodyB.length + avcCB.length)
    ent.write("avc1".getBytes("US-ASCII"), 0, 4)
    ent.write(bodyB, 0, bodyB.length)
    ent.write(avcCB, 0, avcCB.length)
    synthesizeMp4Samples(timescale, delta, samples.toSeq,
      sampleEntry = Some(ent.toByteArray))
  }

  /** The demux inverse of [[synthesizeMp4Avc1]]: locate the avc1
    * sample entry, parse the avcC record (NAL length size +
    * out-of-band SPS/PPS), run the [[mp4SampleTable]] stbl walk, and
    * re-frame every sample's length-prefixed NALs as ONE Annex-B
    * stream (4-byte start codes, parameter sets first) — exactly the
    * form the [[graft.operators.H264]] decoders take, so container
    * composition is `decodeMp4Avc1AnnexB andThen decodeInter`. None
    * if the track is not avc1, the avcC is malformed, or any sample's
    * AVCC length walk fails to land exactly on the sample end.
    */
  def decodeMp4Avc1AnnexB(p: Array[Byte]): Option[Array[Byte]] = {
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    def be16(o: Int): Int = ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    if (p.length < 16 || tag(p, 4) != "ftyp") return None
    val stsdOpt = for {
      (moovS, moovE) <- mp4BoxWalk(p, 0L, p.length.toLong, "moov")
      (trakS, trakE) <- mp4BoxWalk(p, moovS, moovE, "trak")
      (mdiaS, mdiaE) <- mp4BoxWalk(p, trakS, trakE, "mdia")
      (minfS, minfE) <- mp4BoxWalk(p, mdiaS, mdiaE, "minf")
      (stblS, stblE) <- mp4BoxWalk(p, minfS, minfE, "stbl")
      (stsdS, stsdE) <- mp4BoxWalk(p, stblS, stblE, "stsd")
    } yield (stsdS, stsdE)
    if (stsdOpt.isEmpty) return None
    val (stsdS, stsdE) = stsdOpt.get
    if (stsdS + 16 > stsdE || be32(stsdS.toInt + 4) < 1) return None
    val entS = stsdS.toInt + 8
    val entSz = be32(entS)
    if (entSz < 8 + 78 || entS + entSz > stsdE) return None
    if (tag(p, entS + 4) != "avc1") return None
    val avcOpt = mp4BoxWalk(p, entS + 8 + 78L, entS + entSz, "avcC")
    if (avcOpt.isEmpty) return None
    val (aS, aE) = avcOpt.get
    val a = aS.toInt
    if (a + 6 > aE || p(a) != 1) return None // configurationVersion
    val lenSize = (p(a + 4) & 3) + 1
    val paramSets = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var o = a + 5
    val nSps = p(o) & 0x1f; o += 1
    var i = 0
    while (i < nSps) {
      if (o + 2 > aE) return None
      val l = be16(o); o += 2
      if (o + l > aE) return None
      paramSets += java.util.Arrays.copyOfRange(p, o, o + l); o += l
      i += 1
    }
    if (o + 1 > aE) return None
    val nPps = p(o) & 0xff; o += 1
    i = 0
    while (i < nPps) {
      if (o + 2 > aE) return None
      val l = be16(o); o += 2
      if (o + l > aE) return None
      paramSets += java.util.Arrays.copyOfRange(p, o, o + l); o += l
      i += 1
    }
    if (paramSets.isEmpty) return None
    mp4SampleTable(p).flatMap { case (_, ranges) =>
      val out = new java.io.ByteArrayOutputStream()
      def emit(nal: Array[Byte]): Unit = {
        out.write(Array[Byte](0, 0, 0, 1), 0, 4)
        out.write(nal, 0, nal.length)
      }
      paramSets.foreach(emit)
      var ok = true
      ranges.foreach { case (off, sz) =>
        var c = off.toInt
        val end = off.toInt + sz
        while (ok && c < end) {
          if (c + lenSize > end) ok = false
          else {
            var l = 0
            var k = 0
            while (k < lenSize) { l = (l << 8) | (p(c + k) & 0xff); k += 1 }
            c += lenSize
            if (l <= 0 || c + l > end) ok = false
            else {
              emit(java.util.Arrays.copyOfRange(p, c, c + l)); c += l
            }
          }
        }
        if (c != end) ok = false
      }
      if (ok) Some(out.toByteArray) else None
    }
  }

  /** Partition-batched media probe: real header/payload decode for
    * JPEG, BMP, PCM WAV and MP4 container metadata (brand, timescale →
    * the `sample_rate` slot, duration) plus REAL pixel sums where the
    * payload is frame-decodable (single-component baseline JPEG).
    * Same mapPartitions shape as [[extractFeatures]].
    */
  def probeMedia(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        decodePng(p) match {
          case Some((w, h, pixSum)) =>
            MediaMeta(r.doc_id, "png", w, h, 0, 0L, 0.0, p.length.toLong, pixSum)
          case None =>
        decodeGif(p) match {
          case Some((w, h, pixSum)) =>
            MediaMeta(r.doc_id, "gif", w, h, 0, 0L, 0.0, p.length.toLong, pixSum)
          case None =>
        decodeJpeg(p) match {
          case Some((w, h, _)) =>
            // frame-level decode where representable (single-component
            // baseline): real pixel sum; metadata-only otherwise
            val ps = decodeJpegPixels(p).map(_._3).getOrElse(0L)
            MediaMeta(r.doc_id, "jpeg", w, h, 0, 0L, 0.0, p.length.toLong, ps)
          case None => decodeBmp(p) match {
            case Some((w, h, _)) =>
              MediaMeta(r.doc_id, "bmp", w, h, 0, 0L, 0.0, p.length.toLong)
            case None => decodeWav(p) match {
              case Some((rate, durMs, rms)) =>
                MediaMeta(r.doc_id, "wav", 0, 0, rate, durMs, rms, p.length.toLong)
              case None => decodeMp4(p) match {
                // the mvhd timescale (units/second) rides the
                // sample_rate slot
                case Some((_, ts, durMs)) =>
                  MediaMeta(r.doc_id, "mp4", 0, 0, ts, durMs, 0.0, p.length.toLong)
                case None =>
                  MediaMeta(r.doc_id, "bin", 0, 0, 0, 0L, 0.0, p.length.toLong)
              }
            }
          }
        }
      }
    }
    }
    }
  }

  /** PNG parse with REAL pixel decode: signature + chunk walk with
    * per-chunk CRC32 validation, IDAT concatenation + zlib inflate
    * (JDK `Inflater` — the real zlib), then FULL scanline filter
    * reconstruction implemented here: None/Sub/Up/Average/Paeth, the
    * PNG-specific codec layer (8-bit grayscale, bpp=1). Returns
    * `(width, height, sum of reconstructed pixel bytes)` — a content
    * checksum that is wrong unless every filter math path is right.
    * Malformed anywhere (bad signature, CRC mismatch, wrong inflated
    * length, unsupported depth/color, truncation) → None.
    */
  def decodePng(p: Array[Byte]): Option[(Int, Int, Long)] = {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 8 + 25 || !sig.indices.forall(i => (p(i) & 0xff) == sig(i)))
      return None
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    var o = 8
    var w = 0; var h = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (o + 12 > p.length) return None
      val len = be32(o)
      if (len > Int.MaxValue - 12 || o + 12 + len > p.length) return None
      val ctype = new String(p, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(p, o + 4, 4 + len.toInt)
      if (crc.getValue != be32(o + 8 + len.toInt)) return None
      ctype match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(o + 8).toInt; h = be32(o + 12).toInt
          val bitDepth = p(o + 16) & 0xff; val colorType = p(o + 17) & 0xff
          val interlace = p(o + 20) & 0xff
          if (bitDepth != 8 || colorType != 0 || interlace != 0) return None
          seenIhdr = true
        case "IDAT" => idat.write(p, o + 8, len.toInt)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunk: CRC-checked, content skipped
      }
      o += 12 + len.toInt
    }
    if (!seenIhdr || w <= 0 || h <= 0) return None
    for {
      raw <- pngInflate(idat.toByteArray, (w + 1) * h)
      sum <- pngDefilter(raw, w, h)
    } yield (w, h, sum)
  }

  /** [[decodePng]]'s chunk walk, returning the reconstructed pixel
    * grid instead of its sum.
    */
  private def pngGridOf(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 8 + 25 || !sig.indices.forall(i => (p(i) & 0xff) == sig(i)))
      return None
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    var o = 8
    var w = 0; var h = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (o + 12 > p.length) return None
      val len = be32(o)
      if (len > Int.MaxValue - 12 || o + 12 + len > p.length) return None
      val ctype = new String(p, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(p, o + 4, 4 + len.toInt)
      if (crc.getValue != be32(o + 8 + len.toInt)) return None
      ctype match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(o + 8).toInt; h = be32(o + 12).toInt
          val bitDepth = p(o + 16) & 0xff; val colorType = p(o + 17) & 0xff
          val interlace = p(o + 20) & 0xff
          if (bitDepth != 8 || colorType != 0 || interlace != 0) return None
          seenIhdr = true
        case "IDAT" => idat.write(p, o + 8, len.toInt)
        case "IEND" => seenIend = true
        case _ => ()
      }
      o += 12 + len.toInt
    }
    if (!seenIhdr || w <= 0 || h <= 0) return None
    for {
      raw <- pngInflate(idat.toByteArray, (w + 1) * h)
      px <- pngDefilterPixels(raw, w, h)
    } yield (w, h, px)
  }

  /** zlib inflate to an exact expected length (JDK `Inflater` — the
    * real zlib); None on truncation, excess, or stream corruption.
    */
  private def pngInflate(data: Array[Byte], expectLen: Int): Option[Array[Byte]] = {
    val raw = new Array[Byte](expectLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(data)
    try {
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        got += n
      }
      if (got != raw.length) None else Some(raw)
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  /** Full PNG scanline filter reconstruction, bpp = 1 (8-bit
    * grayscale): None/Sub/Up/Average/Paeth. Returns the reconstructed
    * pixel sum; None on an unknown filter type.
    */
  private def pngDefilter(raw: Array[Byte], w: Int, h: Int): Option[Long] =
    pngDefilterPixels(raw, w, h).map { px =>
      var s = 0L; var i = 0
      while (i < px.length) { s += px(i); i += 1 }
      s
    }

  /** Filter reconstruction returning the pixel grid itself (row-major
    * w×h) — the APNG compositor needs values, not just the checksum.
    */
  private def pngDefilterPixels(raw: Array[Byte], w: Int, h: Int): Option[Array[Int]] =
    pngDefilterBytes(raw, w, h, bpp = 1)

  /** Byte-level PNG filter reconstruction for `bpp` bytes/pixel (1 =
    * grayscale, 2 = grayscale+alpha): PNG filters predict bytewise
    * with `left` = the byte `bpp` positions back, so one loop serves
    * every channel layout. Returns w·h·bpp reconstructed bytes
    * row-major, channels interleaved; None on an unknown filter type.
    */
  private def pngDefilterBytes(raw: Array[Byte], w: Int, h: Int,
      bpp: Int): Option[Array[Int]] = {
    val rb = w * bpp // bytes per scanline (excluding the filter byte)
    val prev = new Array[Int](rb)
    val cur = new Array[Int](rb)
    val out = new Array[Int](rb * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (rb + 1)) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < rb) {
        val f = raw(y * (rb + 1) + 1 + x) & 0xff
        val left = if (x >= bpp) cur(x - bpp) else 0
        val above = if (y > 0) prev(x) else 0
        val ul = if (x >= bpp && y > 0) prev(x - bpp) else 0
        val rec = ft match {
          case 0 => f
          case 1 => (f + left) & 0xff
          case 2 => (f + above) & 0xff
          case 3 => (f + ((left + above) >> 1)) & 0xff
          case 4 =>
            val pp = left + above - ul
            val pa = math.abs(pp - left); val pb = math.abs(pp - above)
            val pc = math.abs(pp - ul)
            val pred = if (pa <= pb && pa <= pc) left
              else if (pb <= pc) above else ul
            (f + pred) & 0xff
        }
        cur(x) = rec; out(y * rb + x) = rec; x += 1
      }
      System.arraycopy(cur, 0, prev, 0, rb)
      y += 1
    }
    Some(out)
  }

  /** Deterministic PNG synthesis (write-side counterpart of
    * [[decodePng]]): 8-bit grayscale, pixel `(x, y)` is
    * `(seed + x + y) mod 251`, scanline `y` filtered with type
    * `y mod 5` — so every one of the five PNG filters is ENCODED and
    * must be correctly reconstructed on decode. zlib via JDK
    * `Deflater`; CRC32 per chunk.
    */
  def synthesizePng(w: Int, h: Int, seed: Long): Array[Byte] =
    encodePngGray(w, h, (x, y) => (((seed + x + y) % 251 + 251) % 251).toInt)

  /** General 8-bit grayscale PNG encode from a pixel function — the
    * re-encode half that real resize / frame extraction hand their
    * decoded grids to.
    */
  def encodePngGray(w: Int, h: Int, value: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    pngChunk(out, "IHDR", pngBe32(w.toLong) ++ pngBe32(h.toLong) ++
      Array[Byte](8, 0, 0, 0, 0)) // depth 8, gray, deflate, adaptive, no interlace
    pngChunk(out, "IDAT", deflateBytes(pngFilteredRaw(w, h, value)))
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** PNG pixel-grid decode (the grid-returning sibling of
    * [[decodePng]]) — real resize needs values, not the checksum.
    */
  def decodePngPixels(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    pngGridOf(p)

  /** APNG synthesis (write-side counterpart of [[decodeApng]]):
    * grayscale frames of the same geometry as [[synthesizePng]]'s,
    * frame `f`'s pixel `(x, y)` being `(seed + f + x + y) mod 251` and
    * every scanline filtered with type `y mod 5`. Chunk stream is the
    * real APNG layout: acTL after IHDR, an fcTL before every frame,
    * frame 0 in IDAT, frames 1+ in fdAT with the shared sequence
    * counter, each frame a separate zlib stream.
    */
  def synthesizeApng(w: Int, h: Int, seed: Long, frames: Int): Array[Byte] = {
    require(frames >= 1, "frames must be >= 1")
    synthesizeApngRegions(w, h, seed, frames, subRects = false)
  }

  /** The deterministic sub-rectangle geometry frame `f >= 1` patches
    * in region mode: a half-size rect sliding with `f`.
    */
  def apngRect(w: Int, h: Int, f: Int): (Int, Int, Int, Int) = {
    val wf = math.max(1, w / 2); val hf = math.max(1, h / 2)
    ((f % (w - wf + 1)), ((2 * f) % (h - hf + 1)), wf, hf)
  }

  /** APNG synthesis with optional SUB-RECTANGLE frames (the shape real
    * APNGs use): with `subRects`, frame `f >= 1` patches only
    * [[apngRect]]'s region, its pixels carrying the same
    * global-coordinate formula `(seed + f + gx + gy) mod 251` — so
    * the composited canvas has a closed form (each pixel shows the
    * LATEST frame covering it).
    */
  def synthesizeApngRegions(w: Int, h: Int, seed: Long, frames: Int,
      subRects: Boolean): Array[Byte] = {
    require(frames >= 1, "frames must be >= 1")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    pngChunk(out, "IHDR", pngBe32(w.toLong) ++ pngBe32(h.toLong) ++
      Array[Byte](8, 0, 0, 0, 0))
    pngChunk(out, "acTL", pngBe32(frames.toLong) ++ pngBe32(0L)) // plays=0: loop forever
    var seq = 0
    def fctl(x: Int, y: Int, fw: Int, fh: Int): Unit = { // delay 1/10s, dispose/blend 0
      pngChunk(out, "fcTL", pngBe32(seq.toLong) ++
        pngBe32(fw.toLong) ++ pngBe32(fh.toLong) ++
        pngBe32(x.toLong) ++ pngBe32(y.toLong) ++
        Array[Byte](0, 1, 0, 10, 0, 0))
      seq += 1
    }
    var f = 0
    while (f < frames) {
      val ff = f
      val (x0, y0, fw, fh) =
        if (ff == 0 || !subRects) (0, 0, w, h) else apngRect(w, h, ff)
      fctl(x0, y0, fw, fh)
      val dat = deflateBytes(pngFilteredRaw(fw, fh,
        (px, py) => (((seed + ff + (x0 + px) + (y0 + py)) % 251 + 251) % 251).toInt))
      if (f == 0) pngChunk(out, "IDAT", dat)
      else { pngChunk(out, "fdAT", pngBe32(seq.toLong) ++ dat); seq += 1 }
      f += 1
    }
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** APNG synthesis exercising the full fcTL semantics, one mode per
    * stream (pixel formula is [[synthesizeApngRegions]]'s global
    * `(seed + f + gx + gy) mod 251` throughout):
    *
    *   - mode 0 — DISPOSE=BACKGROUND: frame 0 full-canvas, frames
    *     `1..frames−1` patch [[apngRect]] and clear it before the
    *     next frame;
    *   - mode 1 — fcTL-LESS DEFAULT IMAGE + DISPOSE=PREVIOUS: the
    *     IDAT default image is NOT part of the animation (no fcTL
    *     precedes it); `frames` fdAT frames patch `apngRect(f)`,
    *     `f = 1..frames`, each reverting its region afterwards —
    *     onto the transparent canvas;
    *   - mode 2 — BLEND=OVER (colorType 4, gray+alpha): frame 0
    *     full-canvas opaque; frames `1..frames−1` patch `apngRect(f)`
    *     with alpha 255 where `(gx + gy + f)` is even and 0 elsewhere,
    *     blended OVER — binary alphas, so compositing is exactly
    *     copy-or-keep and the canvas keeps a closed form.
    */
  def synthesizeApngModes(w: Int, h: Int, seed: Long, frames: Int,
      mode: Int): Array[Byte] = {
    require(frames >= 1, "frames must be >= 1")
    require(mode >= 0 && mode <= 2, "mode in 0..2")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val colorType: Byte = if (mode == 2) 4 else 0
    val bpp = if (mode == 2) 2 else 1
    pngChunk(out, "IHDR", pngBe32(w.toLong) ++ pngBe32(h.toLong) ++
      Array[Byte](8, colorType, 0, 0, 0))
    pngChunk(out, "acTL", pngBe32(frames.toLong) ++ pngBe32(0L))
    var seq = 0
    def fctl(x: Int, y: Int, fw: Int, fh: Int, dispose: Int, blend: Int): Unit = {
      pngChunk(out, "fcTL", pngBe32(seq.toLong) ++
        pngBe32(fw.toLong) ++ pngBe32(fh.toLong) ++
        pngBe32(x.toLong) ++ pngBe32(y.toLong) ++
        Array[Byte](0, 1, 0, 10, dispose.toByte, blend.toByte))
      seq += 1
    }
    def frameBytes(f: Int, x0: Int, y0: Int, fw: Int, fh: Int): Array[Byte] =
      deflateBytes(pngFilteredRawBytes(fw, fh, bpp, (px, py, c) => {
        val (gx, gy) = (x0 + px, y0 + py)
        if (c == 0) (((seed + f + gx + gy) % 251 + 251) % 251).toInt
        else if (f == 0) 255 // frame 0 fully opaque
        else if ((gx + gy + f) % 2 == 0) 255 else 0
      }))
    if (mode == 1) {
      // fcTL-less default image: IDAT with NO fcTL, then fdAT frames
      pngChunk(out, "IDAT", frameBytes(0, 0, 0, w, h))
      var f = 1
      while (f <= frames) {
        val (x0, y0, fw, fh) = apngRect(w, h, f)
        fctl(x0, y0, fw, fh, dispose = 2, blend = 0)
        pngChunk(out, "fdAT", pngBe32(seq.toLong) ++ frameBytes(f, x0, y0, fw, fh))
        seq += 1
        f += 1
      }
    } else {
      var f = 0
      while (f < frames) {
        val (x0, y0, fw, fh) =
          if (f == 0) (0, 0, w, h) else apngRect(w, h, f)
        val dispose = if (mode == 0 && f > 0) 1 else 0
        val blend = if (mode == 2 && f > 0) 1 else 0
        fctl(x0, y0, fw, fh, dispose, blend)
        val dat = frameBytes(f, x0, y0, fw, fh)
        if (f == 0) pngChunk(out, "IDAT", dat)
        else { pngChunk(out, "fdAT", pngBe32(seq.toLong) ++ dat); seq += 1 }
        f += 1
      }
    }
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Filtered raw scanlines for one grayscale frame: pixel `(x, y)` =
    * `value(x, y)`, scanline `y` filtered with type `y mod 5` — every
    * one of the five PNG filters is ENCODED and must be correctly
    * reconstructed on decode.
    */
  private def pngFilteredRaw(w: Int, h: Int, value: (Int, Int) => Int): Array[Byte] =
    pngFilteredRawBytes(w, h, bpp = 1, (x, y, _) => value(x, y))

  /** Byte-level filtered scanlines for `bpp` bytes/pixel: channel `c`
    * of pixel `(x, y)` is `byteVal(x, y, c)`, filters applied bytewise
    * with `left` = `bpp` bytes back (the PNG contract
    * [[pngDefilterBytes]] reverses).
    */
  private def pngFilteredRawBytes(w: Int, h: Int, bpp: Int,
      byteVal: (Int, Int, Int) => Int): Array[Byte] = {
    val rb = w * bpp
    val raw = new Array[Byte]((rb + 1) * h)
    val prevRow = new Array[Int](rb)
    val curRow = new Array[Int](rb)
    var y = 0
    while (y < h) {
      val ft = y % 5
      raw(y * (rb + 1)) = ft.toByte
      var x = 0
      while (x < rb) {
        curRow(x) = byteVal(x / bpp, y, x % bpp)
        val left = if (x >= bpp) curRow(x - bpp) else 0
        val above = if (y > 0) prevRow(x) else 0
        val ul = if (x >= bpp && y > 0) prevRow(x - bpp) else 0
        val enc = ft match {
          case 0 => curRow(x)
          case 1 => (curRow(x) - left) & 0xff
          case 2 => (curRow(x) - above) & 0xff
          case 3 => (curRow(x) - ((left + above) >> 1)) & 0xff
          case 4 =>
            val pp = left + above - ul
            val pa = math.abs(pp - left); val pb = math.abs(pp - above)
            val pc = math.abs(pp - ul)
            val pred = if (pa <= pb && pa <= pc) left
              else if (pb <= pc) above else ul
            (curRow(x) - pred) & 0xff
        }
        raw(y * (rb + 1) + 1 + x) = enc.toByte
        x += 1
      }
      System.arraycopy(curRow, 0, prevRow, 0, rb)
      y += 1
    }
    raw
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    zbuf.toByteArray
  }

  private def pngBe32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def pngChunk(out: java.io.ByteArrayOutputStream, ctype: String,
      body: Array[Byte]): Unit = {
    out.write(pngBe32(body.length.toLong), 0, 4)
    val tb = ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(tb, 0, 4); out.write(body, 0, body.length)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(body)
    out.write(pngBe32(crc.getValue), 0, 4)
  }

  /** Integer straight-alpha OVER (the documented [[decodeApng]]
    * contract): `denA = srcA·255 + dstA·(255−srcA)`,
    * `outV = (srcV·srcA·255 + dstV·dstA·(255−srcA)) div denA` (0 when
    * denA = 0), `outA = denA div 255`. Exact copy/keep at alpha
    * 255/0; floor divisions everywhere else.
    */
  private[graft] def blendOver(sv: Int, sa: Int, dv: Int, da: Int): (Int, Int) = {
    val denA = sa * 255 + da * (255 - sa)
    val ov = if (denA == 0) 0
      else ((sv.toLong * sa * 255 + dv.toLong * da * (255 - sa)) / denA).toInt
    (ov, denA / 255)
  }

  /** APNG frame walk (read-side counterpart of [[synthesizeApng]]):
    * CRC-validated chunk walk, acTL frame count cross-checked against
    * the fcTL count, per-frame zlib streams (IDAT concat when the
    * default image IS the first frame, fdAT concat per later frame —
    * consecutive fdAT chunks of one frame merge by chunk order)
    * inflated and filter-reconstructed individually, then COMPOSITED
    * onto the canvas with the full fcTL semantics:
    *
    *   - an IDAT with NO preceding fcTL is a default image that is
    *     not part of the animation — its bytes are skipped and the
    *     frames live entirely in fdAT (canvas starts transparent);
    *   - dispose_op none/background/previous: background clears the
    *     frame's region to transparent black before the next frame,
    *     previous restores the region saved before the frame rendered
    *     (a first frame with dispose=previous degrades to background,
    *     per spec);
    *   - blend_op source/over: over is straight-alpha compositing in
    *     exact integer arithmetic — documented engine contract:
    *     `denA = srcA·255 + dstA·(255−srcA)`,
    *     `outV = (srcV·srcA·255 + dstV·dstA·(255−srcA)) div denA`
    *     (0 when denA = 0), `outA = denA div 255` — which reduces to
    *     plain copy/keep for 255/0 alphas;
    *   - grayscale (colorType 0, opaque) and grayscale+alpha
    *     (colorType 4) frames.
    *
    * Returns (w, h, frame count, Σ canvas-sum-after-each-frame,
    * Σ (frame_idx+1)·canvas_sum), where a canvas sum is the
    * premultiplied `Σ v·a div 255` — for opaque pixels the plain
    * value sum, so fully-opaque streams keep their closed-form
    * oracles. A plain single-image PNG (no acTL) returns None — it
    * is not an animation.
    */
  def decodeApng(p: Array[Byte]): Option[(Int, Int, Int, Long, Long)] =
    apngCanvases(p).map { case (w, h, snaps) =>
      var sum = 0L; var weighted = 0L
      var f = 0
      while (f < snaps.length) {
        var cs = 0L; var i = 0
        val c = snaps(f)
        while (i < c.length) { cs += c(i); i += 1 }
        sum += cs; weighted += (f + 1).toLong * cs
        f += 1
      }
      (w, h, snaps.length, sum, weighted)
    }

  /** The decode core: returns the PREMULTIPLIED (`v·a div 255`)
    * grayscale canvas snapshot after every frame — what frame
    * sampling re-encodes and [[decodeApng]] checksums.
    */
  private[graft] def apngCanvases(p: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] = {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 8 + 25 || !sig.indices.forall(i => (p(i) & 0xff) == sig(i)))
      return None
    def be32(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    var o = 8
    var w = 0; var h = 0; var bpp = 1
    var seenIhdr = false; var seenIend = false; var sawIdat = false
    var idatIsFrame = false
    var declared = -1
    val streams = scala.collection.mutable.ArrayBuffer.empty[java.io.ByteArrayOutputStream]
    val rects = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    val ops = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (dispose, blend)
    while (!seenIend) {
      if (o + 12 > p.length) return None
      val len = be32(o)
      if (len > Int.MaxValue - 12 || o + 12 + len > p.length) return None
      val ctype = new String(p, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(p, o + 4, 4 + len.toInt)
      if (crc.getValue != be32(o + 8 + len.toInt)) return None
      ctype match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(o + 8).toInt; h = be32(o + 12).toInt
          val bitDepth = p(o + 16) & 0xff; val colorType = p(o + 17) & 0xff
          val interlace = p(o + 20) & 0xff
          if (bitDepth != 8 || (colorType != 0 && colorType != 4) ||
            interlace != 0) return None
          bpp = if (colorType == 4) 2 else 1
          seenIhdr = true
        case "acTL" =>
          if (len != 8) return None
          declared = be32(o + 8).toInt
        case "fcTL" =>
          if (len != 26) return None
          val fw = be32(o + 12).toInt; val fh = be32(o + 16).toInt
          val fx = be32(o + 20).toInt; val fy = be32(o + 24).toInt
          val dispose = p(o + 32) & 0xff; val blend = p(o + 33) & 0xff
          // only a default image that IS the first frame must cover
          // the canvas (spec); fdAT-only animations may start with any
          // in-bounds sub-rectangle onto the transparent canvas
          if (rects.isEmpty && !sawIdat &&
            (fw != w || fh != h || fx != 0 || fy != 0)) return None
          if (fw <= 0 || fh <= 0 || fx < 0 || fy < 0 ||
            fx + fw > w || fy + fh > h) return None
          if (dispose > 2 || blend > 1) return None
          if (!sawIdat && rects.isEmpty) idatIsFrame = true
          rects += ((fx, fy, fw, fh))
          ops += ((dispose, blend))
          streams += new java.io.ByteArrayOutputStream()
        case "IDAT" =>
          sawIdat = true
          // an fcTL-less default image is shown before the animation
          // but is NOT a frame: skip its bytes entirely
          if (idatIsFrame) streams.head.write(p, o + 8, len.toInt)
        case "fdAT" =>
          if (len < 4) return None
          // the write target must be an fdAT frame, not the IDAT one
          if (streams.isEmpty || (idatIsFrame && streams.length < 2))
            return None
          streams.last.write(p, o + 12, len.toInt - 4) // skip sequence number
        case "IEND" => seenIend = true
        case _ => () // ancillary chunk: CRC-checked, content skipped
      }
      o += 12 + len.toInt
    }
    if (!seenIhdr || w <= 0 || h <= 0 || !sawIdat) return None
    if (declared <= 0 || declared != streams.length) return None
    // composite with full dispose/blend semantics, snapshotting the
    // premultiplied canvas after every frame
    val cv = new Array[Int](w * h) // values
    val ca = new Array[Int](w * h) // straight alpha
    val snaps = Seq.newBuilder[Array[Int]]
    var f = 0
    while (f < streams.length) {
      val (fx, fy, fw, fh) = rects(f)
      val (disposeRaw, blend) = ops(f)
      // spec: a FIRST frame asking for dispose=previous means background
      val dispose = if (f == 0 && disposeRaw == 2) 1 else disposeRaw
      val bytes = pngInflate(streams(f).toByteArray, (fw * bpp + 1) * fh)
        .flatMap(raw => pngDefilterBytes(raw, fw, fh, bpp)) match {
        case Some(px) => px
        case None => return None
      }
      // save the region only when this frame disposes to previous
      val saved = if (dispose == 2) {
        val s = new Array[Int](fw * fh * 2)
        var py = 0
        while (py < fh) {
          var px = 0
          while (px < fw) {
            val ci = (fy + py) * w + (fx + px); val si = (py * fw + px) * 2
            s(si) = cv(ci); s(si + 1) = ca(ci); px += 1
          }
          py += 1
        }
        s
      } else null
      var py = 0
      while (py < fh) {
        var px = 0
        while (px < fw) {
          val ci = (fy + py) * w + (fx + px)
          val bi = (py * fw + px) * bpp
          val sv = bytes(bi)
          val sa = if (bpp == 2) bytes(bi + 1) else 255
          if (blend == 0 || sa == 255) { cv(ci) = sv; ca(ci) = sa }
          else if (sa != 0) {
            val (ov, oa) = blendOver(sv, sa, cv(ci), ca(ci))
            cv(ci) = ov; ca(ci) = oa
          } // sa == 0 under OVER: keep destination
          px += 1
        }
        py += 1
      }
      val snap = new Array[Int](w * h)
      var i = 0
      while (i < cv.length) { snap(i) = (cv(i) * ca(i) / 255); i += 1 }
      snaps += snap
      // dispose applies when advancing to the next frame
      if (dispose == 1) {
        var py2 = 0
        while (py2 < fh) {
          var px2 = 0
          while (px2 < fw) {
            val ci = (fy + py2) * w + (fx + px2)
            cv(ci) = 0; ca(ci) = 0; px2 += 1
          }
          py2 += 1
        }
      } else if (dispose == 2) {
        var py2 = 0
        while (py2 < fh) {
          var px2 = 0
          while (px2 < fw) {
            val ci = (fy + py2) * w + (fx + px2); val si = (py2 * fw + px2) * 2
            cv(ci) = saved(si); ca(ci) = saved(si + 1); px2 += 1
          }
          py2 += 1
        }
      }
      f += 1
    }
    Some((w, h, snaps.result()))
  }

  final case class AnimMeta(doc_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, pix_sum: Long, frame_weighted: Long)

  /** Animation probe over binary payloads: APNG first (signature +
    * acTL), then multi-frame GIF; everything else is opaque. Same
    * partition-batched shape as [[probeMedia]] — pure map work, no
    * shuffle, memory bounded by one payload.
    */
  def probeAnimation(spark: SparkSession, media: DataFrame): Dataset[AnimMeta] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        decodeApng(p) match {
          case Some((w, h, nf, s, ws)) => AnimMeta(r.doc_id, "apng", w, h, nf, s, ws)
          case None => decodeGifFrames(p) match {
            case Some((w, h, nf, s, ws)) => AnimMeta(r.doc_id, "gif", w, h, nf, s, ws)
            case None => AnimMeta(r.doc_id, "bin", 0, 0, 0, 0L, 0L)
          }
        }
      }
    }
  }

  /** GIF parse with REAL pixel decode: header + logical screen
    * descriptor, skip color tables/extensions, then run the first
    * image's data through a full variable-code-width LZW decoder
    * (clear/end codes, deferred dictionary growth, 12-bit cap with
    * clear-reset, LSB-first bit packing, 255-byte sub-blocks — the
    * actual GIF89a algorithm, not a header peek). Returns
    * `(width, height, sum of decoded pixel indices)` — the pixel sum
    * is a frame-content checksum a structural parse cannot fake.
    * Malformed anywhere (bad header, truncated stream, code out of
    * range, pixel overflow) → None.
    */
  def decodeGif(p: Array[Byte]): Option[(Int, Int, Long)] = {
    gifHeader(p).flatMap { case (w, h, o0) =>
      var o = o0
      while (o < p.length && (p(o) & 0xff) == 0x21) { // extensions
        o += 2 // introducer + label
        while (o < p.length && p(o) != 0) o += 1 + (p(o) & 0xff)
        o += 1 // block terminator
      }
      gifDecodeImage(p, o).map { case (_, sum) => (w, h, sum) }
    }
  }

  /** Header + logical screen descriptor + global color table skip.
    * Returns (screen width, screen height, offset of the first block).
    */
  private def gifHeader(p: Array[Byte]): Option[(Int, Int, Int)] = {
    if (p.length < 14) return None
    val hdr = new String(p, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    val packed = p(10) & 0xff
    var o = 13
    if ((packed & 0x80) != 0) o += 3 * (1 << ((packed & 7) + 1)) // global table
    Some((le16(p, 6), le16(p, 8), o))
  }

  /** Decode ONE image block (must start at an 0x2c image descriptor):
    * the full variable-width LZW pipeline of [[decodeGif]]. Returns
    * (offset past the block terminator, decoded pixel-index sum); None
    * on any malformation, including a pixel count that disagrees with
    * the image descriptor.
    */
  private def gifDecodeImage(p: Array[Byte], start: Int,
      pixOut: Array[Int] = null): Option[(Int, Long)] = {
    var o = start
    if (o + 10 > p.length || (p(o) & 0xff) != 0x2c) return None
    val iw = le16(p, o + 5); val ih = le16(p, o + 7)
    val ipacked = p(o + 9) & 0xff
    o += 10
    if ((ipacked & 0x80) != 0) o += 3 * (1 << ((ipacked & 7) + 1)) // local table
    if (o >= p.length) return None
    val minCode = p(o) & 0xff
    o += 1
    if (minCode < 2 || minCode > 8) return None
    // collect LZW bytes from sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (o < p.length && p(o) != 0) {
      val len = p(o) & 0xff
      if (o + 1 + len > p.length) return None
      data.write(p, o + 1, len)
      o += 1 + len
    }
    if (o >= p.length) return None
    val endOffset = o + 1 // past the 0x00 block terminator
    val bytes = data.toByteArray
    val nPixels = iw.toLong * ih
    val clear = 1 << minCode
    val end = clear + 1
    // dictionary: prefix link + last byte per code (12-bit max = 4096)
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    var next = end + 1
    var width = minCode + 1
    var prev = -1
    var bitPos = 0
    var produced = 0L
    var sum = 0L
    val tail = new Array[Byte](4097) // expansion scratch (longest chain + KwKwK byte)
    def expandLen(code: Int): Int = { // writes chain into tail reversed
      var c = code; var n = 0
      while (c >= clear) { tail(n) = last(c); n += 1; c = prefix(c) }
      tail(n) = c.toByte; n + 1
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    while (true) {
      if (bitPos + width > bytes.length * 8) return None // truncated
      var code = 0
      var b = 0
      while (b < width) {
        val bit = bitPos + b
        if ((bytes(bit >> 3) & (1 << (bit & 7))) != 0) code |= 1 << b
        b += 1
      }
      bitPos += width
      if (code == end) {
        return if (produced == nPixels) Some((endOffset, sum)) else None
      } else if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else {
        var entryLen = 0
        if (code < next) {
          entryLen = expandLen(code)
        } else if (code == next && prev >= 0) {
          // KwKwK: prev chain + its first byte
          val pl = expandLen(prev)
          // shift to make room for the appended first byte at the front
          // (tail is reversed: appended byte is index 0 shifted in)
          var i = pl
          while (i > 0) { tail(i) = tail(i - 1); i -= 1 }
          tail(0) = firstByte(prev)
          entryLen = pl + 1
        } else return None // out-of-range code
        // emit (reversed chain: tail(entryLen-1) .. tail(0))
        var i = entryLen - 1
        while (i >= 0) {
          sum += tail(i) & 0xff
          if (pixOut != null && produced + (entryLen - 1 - i) < pixOut.length)
            pixOut((produced + (entryLen - 1 - i)).toInt) = tail(i) & 0xff
          i -= 1
        }
        produced += entryLen
        if (produced > nPixels) return None
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; last(next) = tail(entryLen - 1)
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    None
  }

  /** Deterministic GIF synthesis with a REAL LZW encoder (write-side
    * counterpart of [[decodeGif]]): 4-color global table, pixel i of
    * the `w × h` frame is `(seed + i) mod 4` — so the decoded pixel
    * sum has a closed form an SQL oracle can compute. The encoder is
    * the genuine algorithm (prefix-table growth, width bumps at
    * `next == 2^width + 1`, clear-code reset at 4096), so large
    * frames drive the decoder through every code path.
    */
  def synthesizeGif(w: Int, h: Int, seed: Long, cycle: Int = 4): Array[Byte] = {
    require(cycle >= 1 && cycle <= 4, "cycle must be 1..4 (4-color table)")
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    writeGifImage(out, w, h,
      i => (((seed + i) % cycle + cycle) % cycle).toInt)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Animated GIF synthesis: `frames` full-screen frames, each behind
    * a Graphic Control Extension, pixel `i` of frame `f` being
    * `(seed + f + i) mod 4` — every frame differs by a fixed offset,
    * so a per-frame-weighted checksum catches frame miscounts AND
    * misattributed content.
    */
  def synthesizeGifAnim(w: Int, h: Int, seed: Long, frames: Int): Array[Byte] = {
    require(frames >= 1, "frames must be >= 1")
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    var f = 0
    while (f < frames) {
      // GCE: introducer, label, block size 4, flags, delay 10cs, no
      // transparency, terminator
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); out.write(10); out.write(0); out.write(0); out.write(0)
      val ff = f
      writeGifImage(out, w, h,
        i => (((seed + ff + i) % 4 + 4) % 4).toInt)
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF animation with SUB-RECTANGLE frames and a per-stream GCE
    * disposal method — the full GIF89a compositing semantics
    * ([[gifCanvases]] is the read side): frame 0 is full-canvas with
    * disposal=none; frames `f ≥ 1` patch [[apngRect]] (the same
    * sliding geometry the APNG gates use) carrying `disposal` in
    * their GCE (1 = none, 2 = restore-background — index 0 here —
    * 3 = restore-previous). Pixel at GLOBAL (gx, gy) of frame f is
    * `(seed + f + gx + gy) mod 4`.
    */
  def synthesizeGifRegions(w: Int, h: Int, seed: Long, frames: Int,
      disposal: Int): Array[Byte] = {
    require(frames >= 1, "frames must be >= 1")
    require(disposal >= 1 && disposal <= 3, "disposal in 1..3")
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    var f = 0
    while (f < frames) {
      val ff = f
      val d = if (f == 0) 1 else disposal
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(d << 2); out.write(10); out.write(0); out.write(0); out.write(0)
      val (x0, y0, fw, fh) =
        if (ff == 0) (0, 0, w, h) else apngRect(w, h, ff)
      writeGifImageAt(out, x0, y0, fw, fh,
        i => ((seed + ff + (x0 + i % fw) + (y0 + i / fw)) % 4 + 4).toInt % 4)
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Header + logical screen descriptor + the 4-entry grayscale GCT
    * shared by both GIF synthesizers.
    */
  private def writeGifHeader(out: java.io.ByteArrayOutputStream, w: Int, h: Int): Unit = {
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16le(v: Int): Unit = { w8(v); w8(v >> 8) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    w16le(w); w16le(h)
    w8(0x80 | 0x01) // GCT present, 2^(1+1)=4 entries
    w8(0); w8(0)    // bg color, aspect
    var j = 0
    while (j < 4) { w8(j * 85); w8(j * 85); w8(j * 85); j += 1 }
  }

  /** Per-thread LZW dictionary scratch: codes + generation stamps
    * over the (cur << 8 | px) key space (cur < 4096, px < 256 →
    * 2^20 slots). A generation bump IS the dictionary clear — no
    * per-frame allocation or fill, and no boxed HashMap on the
    * encode hot path (the q95/q104 bench top cost).
    */
  private val lzwScratch =
    ThreadLocal.withInitial[(Array[Int], Array[Int], Array[Int])](() =>
      (new Array[Int](1 << 20), new Array[Int](1 << 20), Array(0)))

  /** One full-screen image block: descriptor + REAL LZW encode of the
    * pixel stream (the genuine algorithm — prefix-table growth, width
    * bumps at `next == 2^width + 1`, clear-code reset at 4096), so
    * large frames drive the decoder through every code path.
    */
  private def writeGifImage(out: java.io.ByteArrayOutputStream, w: Int, h: Int,
      pixelAt: Long => Int): Unit =
    writeGifImageAt(out, 0, 0, w, h, pixelAt)

  private def writeGifImageAt(out: java.io.ByteArrayOutputStream,
      ix: Int, iy: Int, w: Int, h: Int, pixelAt: Long => Int): Unit = {
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16le(v: Int): Unit = { w8(v); w8(v >> 8) }
    w8(0x2c); w16le(ix); w16le(iy); w16le(w); w16le(h); w8(0) // image descriptor
    val minCode = 2
    w8(minCode)
    val clear = 1 << minCode
    val end = clear + 1
    // bit writer, LSB-first
    val lzw = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    def putCode(c: Int, width: Int): Unit = {
      acc |= c.toLong << nBits; nBits += width
      while (nBits >= 8) { lzw.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8 }
    }
    // The emit width must track the DECODER's width state machine, not
    // the encoder's dictionary counter: the decoder adds one entry per
    // received code (none for the first after a clear) and widens when
    // its next-code counter fills the current width — including across
    // emissions that add nothing on the encoder side (hits, the final
    // flush). Mirroring it exactly is the only pairing that stays in
    // sync for every stream shape.
    var width = minCode + 1
    var decRC = end + 1        // decoder's next-code counter, mirrored
    var firstCode = true       // decoder adds nothing for this one
    def emitMirrored(c: Int): Unit = {
      putCode(c, width)
      if (!firstCode && decRC < 4096) {
        decRC += 1
        if (decRC == (1 << width) && width < 12) width += 1
      }
      firstCode = false
    }
    var next = end + 1
    val (codes, stamps, genBox) = lzwScratch.get() // (cur<<8 | px) -> code
    genBox(0) += 1
    var gen = genBox(0)
    putCode(clear, width)
    val n = w.toLong * h
    var cur = pixelAt(0L)
    var i = 1L
    while (i < n) {
      val px = pixelAt(i)
      val key = (cur << 8) | px
      if (stamps(key) == gen) cur = codes(key)
      else {
        emitMirrored(cur)
        if (next < 4096) {
          codes(key) = next; stamps(key) = gen; next += 1
        } else { // dictionary full: clear and start over
          emitMirrored(clear)
          genBox(0) += 1; gen = genBox(0); next = end + 1
          width = minCode + 1; decRC = end + 1; firstCode = true
        }
        cur = px
      }
      i += 1
    }
    emitMirrored(cur)
    emitMirrored(end)
    if (nBits > 0) lzw.write((acc & 0xff).toInt)
    val bytes = lzw.toByteArray
    var off = 0
    while (off < bytes.length) { // 255-byte sub-blocks
      val len = math.min(255, bytes.length - off)
      w8(len); out.write(bytes, off, len); off += len
    }
    w8(0) // block terminator
  }

  /** Walk EVERY frame of a (possibly animated) GIF: per-frame LZW
    * decode via [[gifDecodeImage]], skipping extensions between
    * frames. Returns (screen w, screen h, frame count, total decoded
    * pixel sum, Σ (frame_idx+1)·frame_sum) — the weighted term pins
    * both the count and which content sits in which frame.
    */
  def decodeGifFrames(p: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    gifHeader(p).flatMap { case (w, h, o0) =>
      var o = o0
      var frames = 0
      var sum = 0L
      var weighted = 0L
      while (o < p.length && (p(o) & 0xff) != 0x3b) {
        if ((p(o) & 0xff) == 0x21) { // extension: skip sub-blocks
          o += 2
          while (o < p.length && p(o) != 0) o += 1 + (p(o) & 0xff)
          o += 1
        } else if ((p(o) & 0xff) == 0x2c) {
          gifDecodeImage(p, o) match {
            case Some((end, s)) =>
              sum += s; weighted += (frames + 1).toLong * s
              frames += 1; o = end
            case None => return None
          }
        } else return None // unknown block type
      }
      if (frames == 0 || o >= p.length) None
      else Some((w, h, frames, sum, weighted))
    }
  }

  /** GIF animation canvases — the frame-sampling / compositing
    * sibling of [[apngCanvases]], implementing the GIF89a GCE
    * semantics: each image blits its (in-bounds) sub-rectangle onto
    * the canvas (background = color index 0, the LSD's background
    * slot in our streams); the snapshot is taken after every frame;
    * the frame's GCE disposal then applies before the next —
    * 0/1 keep, 2 restore-background (clear the rect to index 0),
    * 3 restore-previous (revert the rect to its pre-frame pixels).
    */
  private[graft] def gifCanvases(p: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] =
    gifHeader(p).flatMap { case (w, h, o0) =>
      var o = o0
      val canvas = new Array[Int](w * h)
      val snaps = Seq.newBuilder[Array[Int]]
      var frames = 0
      var disposal = 0 // from the GCE preceding the next image
      while (o < p.length && (p(o) & 0xff) != 0x3b) {
        if ((p(o) & 0xff) == 0x21) {
          val isGce = o + 1 < p.length && (p(o + 1) & 0xff) == 0xf9
          o += 2
          if (isGce && o < p.length && (p(o) & 0xff) >= 1)
            disposal = ((p(o + 1) & 0xff) >> 2) & 7
          while (o < p.length && p(o) != 0) o += 1 + (p(o) & 0xff)
          o += 1
        } else if ((p(o) & 0xff) == 0x2c) {
          if (o + 10 > p.length) return None
          val (ix, iy) = (le16(p, o + 1), le16(p, o + 3))
          val (iw, ih) = (le16(p, o + 5), le16(p, o + 7))
          if (iw <= 0 || ih <= 0 || ix < 0 || iy < 0 ||
            ix + iw > w || iy + ih > h) return None
          val grid = new Array[Int](iw * ih)
          gifDecodeImage(p, o, grid) match {
            case Some((end, _)) =>
              val saved = if (disposal == 3) {
                val s = new Array[Int](iw * ih)
                var py = 0
                while (py < ih) {
                  var px = 0
                  while (px < iw) {
                    s(py * iw + px) = canvas((iy + py) * w + (ix + px)); px += 1
                  }
                  py += 1
                }
                s
              } else null
              var py = 0
              while (py < ih) {
                var px = 0
                while (px < iw) {
                  canvas((iy + py) * w + (ix + px)) = grid(py * iw + px); px += 1
                }
                py += 1
              }
              snaps += canvas.clone()
              if (disposal == 2) {
                var y2 = 0
                while (y2 < ih) {
                  var x2 = 0
                  while (x2 < iw) {
                    canvas((iy + y2) * w + (ix + x2)) = 0; x2 += 1
                  }
                  y2 += 1
                }
              } else if (disposal == 3) {
                var y2 = 0
                while (y2 < ih) {
                  var x2 = 0
                  while (x2 < iw) {
                    canvas((iy + y2) * w + (ix + x2)) = saved(y2 * iw + x2); x2 += 1
                  }
                  y2 += 1
                }
              }
              disposal = 0
              frames += 1; o = end
            case None => return None
          }
        } else return None
      }
      if (frames == 0 || o >= p.length) None
      else Some((w, h, snaps.result()))
    }

  /** Deterministic minimal-but-valid JPEG synthesis (write-side
    * encoder; also the gate's payload generator): SOI + APP1 with an
    * `exifBytes`-long fake TIFF body + SOF0(w, h, 3 components) + SOS
    * + `entropyBytes` of FF-free entropy filler + EOI. Total size is
    * arithmetic — 47 + exifBytes + entropyBytes — so a SQL oracle can
    * predict every decoded feature, and [[stripExif]] must shrink it
    * by exactly the APP1 segment (10 + exifBytes).
    */
  def synthesizeJpeg(w: Int, h: Int, exifBytes: Int, entropyBytes: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(47 + exifBytes + entropyBytes)
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    w8(0xFF); w8(0xD8)                     // SOI
    w8(0xFF); w8(0xE1); w16(8 + exifBytes) // APP1: len covers itself + Exif\0\0 + body
    out.write("Exif".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    w8(0); w8(0)
    var i = 0
    while (i < exifBytes) { w8(i); i += 1 }
    w8(0xFF); w8(0xC0); w16(17)            // SOF0: len = 8 + 3 components
    w8(8); w16(h); w16(w); w8(3)
    (1 to 3).foreach { c => w8(c); w8(0x11); w8(0) }
    w8(0xFF); w8(0xDA); w16(12)            // SOS: len = 6 + 2 per component
    w8(3); (1 to 3).foreach { c => w8(c); w8(0) }; w8(0); w8(63); w8(0)
    i = 0
    while (i < entropyBytes) { w8(0x55); i += 1 } // no FF → no marker aliasing
    w8(0xFF); w8(0xD9)                     // EOI
    out.toByteArray
  }

  // ---- Baseline JPEG: real frame-level decode ------------------------

  /** Zigzag scan order: entropy-coded coefficient k lives at natural
    * position `JpegZigzag(k)` (row-major u + 8v) of the 8×8 block.
    */
  private val JpegZigzag: Array[Int] = {
    val zz = new Array[Int](64)
    var k = 0
    for (s <- 0 until 15; u <- 0 to s; if s - u < 8 && u < 8) {
      // even diagonals run up-right (x ascending), odd ones down-left
      val (x, y) = if (s % 2 == 0) (u, s - u) else (s - u, u)
      zz(k) = y * 8 + x; k += 1
    }
    zz
  }

  /** IDCT basis `cos((2x+1)·u·π/16)` via StrictMath — bit-reproducible
    * on every JVM, which makes the pixel contract deterministic.
    */
  private val JpegCos: Array[Double] = Array.tabulate(64) { i =>
    StrictMath.cos((2 * (i / 8) + 1) * (i % 8) * StrictMath.PI / 16)
  }

  /** Documented IDCT contract shared by encoder spec and decoder:
    * `f(x,y) = ¼ ΣΣ C(u)C(v)·F(u,v)·cos((2x+1)uπ/16)·cos((2y+1)vπ/16)`
    * in doubles (StrictMath basis), then `round(f) + 128` clamped to
    * 0..255. DC-only blocks with q_DC = 8 reduce to exactly
    * `dc + 128` — the closed form the SQL oracle uses.
    */
  private[graft] def jpegIdctBlock(coef: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    val invSqrt2 = 1.0 / StrictMath.sqrt(2.0)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val c = coef(v * 8 + u)
            if (c != 0) {
              val cu = if (u == 0) invSqrt2 else 1.0
              val cv = if (v == 0) invSqrt2 else 1.0
              acc += cu * cv * c * JpegCos(x * 8 + u) * JpegCos(y * 8 + v)
            }
            u += 1
          }
          v += 1
        }
        val p = Math.round(acc / 4.0).toInt + 128
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
    out
  }

  /** Baseline-DCT JPEG pixel decode (grayscale): DQT + DHT (canonical
    * Huffman rebuilt from the declared code-length counts) + SOF0 +
    * SOS, then the real entropy decode — DC differentials, AC
    * run-length/EOB/ZRL, byte unstuffing — dequantize,
    * [[jpegIdctBlock]], crop to (w, h). Returns (w, h, Σ pixels).
    * None for anything but 8-bit single-component restart-free
    * baseline (multi-component / progressive / DRI payloads keep
    * their metadata-only path).
    */
  def decodeJpegPixels(p: Array[Byte]): Option[(Int, Int, Long)] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xFF || (p(1) & 0xff) != 0xD8) return None
    var o = 2
    var w = -1; var h = -1
    val qt = scala.collection.mutable.Map.empty[Int, Array[Int]]
    // Huffman tables: (class<<4|id) -> (maxcode/valptr decode arrays)
    final case class Huff(counts: Array[Int], symbols: Array[Int]) {
      // canonical code assignment (JPEG F.2.2.3): walk by length
      private val (codeLo, codeHi, valBase) = {
        val lo = new Array[Int](17); val hi = new Array[Int](17)
        val vb = new Array[Int](17)
        var code = 0; var k = 0
        var l = 1
        while (l <= 16) {
          lo(l) = code; vb(l) = k
          code += counts(l); k += counts(l)
          hi(l) = code // exclusive
          code <<= 1
          l += 1
        }
        (lo, hi, vb)
      }
      def decode(br: BitReader): Int = {
        var code = 0; var l = 0
        while (l < 16) {
          code = (code << 1) | br.bit()
          l += 1
          // canonical property: any code below this length's exclusive
          // upper bound either belongs to it or is invalid
          if (code < codeHi(l)) {
            return if (code >= codeLo(l))
              symbols(valBase(l) + (code - codeLo(l)))
            else -1
          }
        }
        -1
      }
    }
    val huff = scala.collection.mutable.Map.empty[Int, Huff]
    final class BitReader(data: Array[Byte], var pos: Int) {
      private var cur = 0; private var nbits = 0
      var badStuffing = false
      def bit(): Int = {
        if (nbits == 0) {
          if (pos >= data.length) { badStuffing = true; return 0 }
          val b = data(pos) & 0xff; pos += 1
          if (b == 0xFF) {
            if (pos >= data.length || (data(pos) & 0xff) != 0x00) {
              badStuffing = true; return 0
            }
            pos += 1 // stuffed zero
          }
          cur = b; nbits = 8
        }
        nbits -= 1
        (cur >> nbits) & 1
      }
      def receive(s: Int): Int = {
        var v = 0; var i = 0
        while (i < s) { v = (v << 1) | bit(); i += 1 }
        v
      }
    }
    def extend(r: Int, s: Int): Int =
      if (s == 0) 0 else if (r < (1 << (s - 1))) r - (1 << s) + 1 else r
    while (o + 4 <= p.length) {
      if ((p(o) & 0xff) != 0xFF) return None
      var m = p(o + 1) & 0xff
      while (m == 0xFF && o + 2 < p.length) { o += 1; m = p(o + 1) & 0xff }
      if (m == 0xD9) return None // EOI before SOS
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { o += 2 }
      else {
        if (o + 4 > p.length) return None
        val len = be16(p, o + 2)
        if (len < 2 || o + 2 + len > p.length) return None
        m match {
          case 0xDB => // DQT: 8-bit tables only
            var q = o + 4
            while (q < o + 2 + len) {
              val pq = (p(q) & 0xff) >> 4; val tq = p(q) & 0x0f
              if (pq != 0 || q + 65 > o + 2 + len) return None
              qt(tq) = Array.tabulate(64)(i => p(q + 1 + i) & 0xff)
              q += 65
            }
          case 0xC4 => // DHT
            var q = o + 4
            while (q < o + 2 + len) {
              val tc = p(q) & 0xff
              if (q + 17 > o + 2 + len) return None
              val counts = new Array[Int](17)
              var tot = 0
              var i = 1
              while (i <= 16) { counts(i) = p(q + i) & 0xff; tot += counts(i); i += 1 }
              if (q + 17 + tot > o + 2 + len) return None
              huff(tc) = Huff(counts,
                Array.tabulate(tot)(i => p(q + 17 + i) & 0xff))
              q += 17 + tot
            }
          case 0xC0 => // SOF0 baseline
            if (len < 8) return None
            h = be16(p, o + 5); w = be16(p, o + 7)
            val nc = p(o + 9) & 0xff
            if ((p(o + 4) & 0xff) != 8 || nc != 1 || w <= 0 || h <= 0) return None
          case sof if sof >= 0xC1 && sof <= 0xCF && sof != 0xC4 && sof != 0xC8 && sof != 0xCC =>
            return None // progressive/lossless/arithmetic: not baseline
          case 0xDA => // SOS: entropy decode follows
            if (w < 0) return None
            val ns = p(o + 4) & 0xff
            if (ns != 1 || len != 6 + 2 * ns) return None
            val td = (p(o + 6) & 0xff) >> 4; val ta = p(o + 6) & 0x0f
            val (dcT, acT) = (huff.get(td), huff.get(0x10 | ta))
            val q0 = qt.get(p.lift(jpegSofTq(p)).map(_ & 0x0f).getOrElse(0))
            if (dcT.isEmpty || acT.isEmpty || q0.isEmpty) return None
            val br = new BitReader(p, o + 2 + len)
            val (bw, bh) = ((w + 7) / 8, (h + 7) / 8)
            val pix = new Array[Int](w * h)
            var prevDc = 0
            var by = 0
            while (by < bh) {
              var bx = 0
              while (bx < bw) {
                val coef = new Array[Int](64)
                val s = dcT.get.decode(br)
                if (s < 0 || s > 11) return None
                prevDc += extend(br.receive(s), s)
                coef(0) = prevDc * q0.get(0)
                var k = 1
                var eob = false
                while (k < 64 && !eob) {
                  val rs = acT.get.decode(br)
                  if (rs < 0) return None
                  if (rs == 0x00) eob = true
                  else if (rs == 0xF0) k += 16
                  else {
                    k += (rs >> 4)
                    if (k > 63) return None
                    val sz = rs & 0x0f
                    coef(JpegZigzag(k)) = extend(br.receive(sz), sz) *
                      q0.get(JpegZigzag(k))
                    k += 1
                  }
                }
                if (br.badStuffing) return None
                val block = jpegIdctBlock(coef)
                var yy = 0
                while (yy < 8 && by * 8 + yy < h) {
                  var xx = 0
                  while (xx < 8 && bx * 8 + xx < w) {
                    pix((by * 8 + yy) * w + (bx * 8 + xx)) = block(yy * 8 + xx)
                    xx += 1
                  }
                  yy += 1
                }
                bx += 1
              }
              by += 1
            }
            var sum = 0L; var i = 0
            while (i < pix.length) { sum += pix(i); i += 1 }
            return Some((w, h, sum))
          case _ => ()
        }
        o += 2 + len
      }
    }
    None
  }

  /** Offset of the SOF0 component's quant-table selector byte (Tq) —
    * found by re-walking to SOF0 (single-component contract).
    */
  private def jpegSofTq(p: Array[Byte]): Int = {
    var o = 2
    while (o + 4 <= p.length) {
      if ((p(o) & 0xff) != 0xFF) return -1
      val m = p(o + 1) & 0xff
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) o += 2
      else {
        val len = be16(p, o + 2)
        if (m == 0xC0) return o + 12 // precision(1) h(2) w(2) nc(1) id(1) hv(1) tq
        if (len < 2 || o + 2 + len > p.length) return -1
        o += 2 + len
      }
    }
    -1
  }

  /** Baseline-DCT JPEG synthesis (write-side counterpart of
    * [[decodeJpegPixels]]): real DQT/DHT/SOF0/SOS with a compact
    * canonical Huffman pair and a real entropy stream (DC
    * differentials, AC run-length, EOB, byte stuffing). Block
    * (bx, by)'s DC is `(seed + bx + by) mod 151 − 75` with q_DC = 8,
    * so the decoded block is flat `dc + 128` — closed form for the
    * oracle. With `acPattern`, one AC coefficient per block at zigzag
    * `1 + (bx+by) mod 5`, value `((seed + 3bx + 7by) mod 7) − 3`,
    * exercises run-length coding + the full IDCT (spec-checked against
    * an independent simulation, not SQL-oracled).
    */
  def synthesizeJpegDct(w: Int, h: Int, seed: Long,
      acPattern: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "positive dimensions")
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    w8(0xFF); w8(0xD8) // SOI
    // DQT 0: q[0] = 8 (the dc+128 closed form), 16 elsewhere
    w8(0xFF); w8(0xDB); w16(2 + 65); w8(0x00)
    (0 until 64).foreach(i => w8(if (i == 0) 8 else 16))
    // DHT DC 0: symbols 0..8, all 4-bit codes
    w8(0xFF); w8(0xC4); w16(2 + 17 + 9); w8(0x00)
    (1 to 16).foreach(l => w8(if (l == 4) 9 else 0))
    (0 to 8).foreach(w8)
    // DHT AC 0: EOB + (run 0..5 × size 1..2), all 5-bit codes
    val acSyms = 0x00 +: (for (r <- 0 to 5; s <- 1 to 2) yield (r << 4) | s)
    w8(0xFF); w8(0xC4); w16(2 + 17 + acSyms.length); w8(0x10)
    (1 to 16).foreach(l => w8(if (l == 5) acSyms.length else 0))
    acSyms.foreach(w8)
    // SOF0: 8-bit, 1 component, no subsampling, quant table 0
    w8(0xFF); w8(0xC0); w16(11); w8(8); w16(h); w16(w); w8(1)
    w8(1); w8(0x11); w8(0)
    // SOS
    w8(0xFF); w8(0xDA); w16(8); w8(1); w8(1); w8(0x00); w8(0); w8(63); w8(0)
    // entropy stream
    var acc = 0; var nbits = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    // canonical codes: DC symbol s -> code s (4 bits); AC i -> 5 bits
    def putDc(sym: Int): Unit = putBits(sym, 4)
    def putAc(sym: Int): Unit = putBits(acSyms.indexOf(sym), 5)
    def size(v: Int): Int = { var a = math.abs(v); var s = 0
      while (a != 0) { a >>= 1; s += 1 }; s }
    def putVal(v: Int, s: Int): Unit =
      if (s > 0) putBits(if (v >= 0) v else v + (1 << s) - 1, s)
    val (bw, bh) = ((w + 7) / 8, (h + 7) / 8)
    var prevDc = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        val dc = (((seed + bx + by) % 151 + 151) % 151 - 75).toInt
        val diff = dc - prevDc; prevDc = dc
        val s = size(diff)
        putDc(s); putVal(diff, s)
        if (acPattern) {
          val k = 1 + ((bx + by) % 5)
          val v = ((((seed + 3 * bx + 7 * by) % 7) + 7) % 7 - 3).toInt
          if (v != 0) { val sz = size(v); putAc(((k - 1) << 4) | sz); putVal(v, sz) }
        }
        putAc(0x00) // EOB
        bx += 1
      }
      by += 1
    }
    if (nbits > 0) { // pad with 1s
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(acc)
      if (acc == 0xFF) out.write(0x00)
    }
    w8(0xFF); w8(0xD9) // EOI
    out.toByteArray
  }

  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte], n_bytes: Long)

  /** REAL frame sampling + resize over binary payloads: an APNG is
    * fully composited ([[apngCanvases]] — dispose/blend respected), an
    * animated GIF is LZW-decoded frame by frame ([[gifCanvases]]), and
    * `nFrames` evenly-spaced canvas snapshots are re-encoded as
    * single-image PNGs at (tw, th) via the nearest-neighbor map; a
    * still PNG contributes its one frame resized; other payloads are
    * skipped (a captioning pipeline samples what it can decode). One
    * output row per sampled frame; the explode happens inside the
    * partition iterator — no shuffle, memory bounded by one payload.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, nFrames: Int,
      tw: Int, th: Int): Dataset[Frame] = {
    import spark.implicits._
    require(nFrames >= 1 && tw >= 1 && th >= 1, "positive sampling geometry")
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val anim = apngCanvases(r.payload).orElse(gifCanvases(r.payload))
        val grids: Seq[(Int, Int, Array[Int])] = anim match {
          case Some((w, h, snaps)) =>
            // evenly spaced over the animation: snapshot ⌊k·(F−1)/(n−1)⌋
            val idx =
              if (snaps.length <= nFrames) snaps.indices
              else if (nFrames == 1) Seq(0)
              else (0 until nFrames)
                .map(k => k * (snaps.length - 1) / (nFrames - 1)).distinct
            idx.map(i => (w, h, snaps(i)))
          case None => decodePngPixels(r.payload) match {
            case Some((w, h, px)) => Seq((w, h, px))
            case None => Seq.empty
          }
        }
        grids.zipWithIndex.map { case ((w, h, px), i) =>
          val enc = encodePngGray(tw, th,
            (x, y) => px((y.toLong * h / th).toInt * w + (x.toLong * w / tw).toInt))
          Frame(r.doc_id, i, enc, enc.length.toLong)
        }
      }
    }
  }

  /** Per-frame 64-bit temporal fingerprints of an avc1 MP4: demux
    * the track to Annex-B ([[decodeMp4Avc1AnnexB]]), pixel-decode it
    * ([[H264.decodeInter]]'s collect hook), FNV-1a each reconstructed
    * luma plane with the frame's temporal index folded into the hash
    * basis. Two fingerprints are equal iff the frames sit at the same
    * position AND carry identical pixels (modulo 64-bit collision) —
    * the position-qualified form clip-alignment dedup joins on (a
    * looping animation's pixel-identical frames at different
    * timestamps are different clip evidence). The shared-fingerprint
    * join is an inverted index over frames: candidate pairs only
    * where content actually repeats, never all-pairs over videos.
    */
  def mp4FrameFingerprints(mp4: Array[Byte]): Option[Array[Long]] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    for {
      annexB <- decodeMp4Avc1AnnexB(mp4)
      _ <- H264.decodeInter(annexB, st => {
        var h = 0xcbf29ce484222325L ^ (st.frameIdx * 0x9E3779B97F4A7C15L)
        var i = 0
        while (i < st.luma.length) {
          h ^= st.luma(i)
          h *= 0x100000001b3L
          i += 1
        }
        out += h
      })
    } yield out.toArray
  }
}
