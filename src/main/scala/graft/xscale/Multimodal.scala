package graft.xscale

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.Q
import graft.query.Registry.table

/** A raw multimodal row: opaque payload bytes + typed metadata. At 100 TB
  * the payload column dominates storage — keep it `binary` in parquet,
  * size-partition the table, and never let a wide payload column through a
  * shuffle you don't need (project it away before joins/aggs).
  */
final case class MediaRecord(doc_id: Long, modality: String, payload: Array[Byte])

/** Decoded features — the narrow output schema that downstream joins see.
  * `format` is the detected container (png/gif/bmp/jpeg/wav/mp4) or
  * "unknown" when the payload matched no header; for wav, (width, height)
  * carry (duration_ms, sample_rate) and for mp4 (duration_ms, timescale) —
  * the time-media analog of image dimensions.
  */
final case class MediaFeatures(
    doc_id: Long,
    modality: String,
    n_bytes: Long,
    format: String,
    width: Long,
    height: Long)

/** Multimodal columns: image/audio/video treated as opaque `binary` columns
  * with typed metadata; decode / feature-extract runs batched per partition.
  *
  * Three decode tiers, broadest reach first:
  *  - [[Multimodal.decodeImage]] — REAL pixel decode via pure-JVM
  *    javax.imageio (PNG/GIF/BMP/JPEG, no native libs), opt-in through
  *    [[Multimodal.PixelDecodeEnv]] / the `pixelDecode` flag — and
  *    [[Multimodal.decodeWavSamples]], REAL WAV PCM sample decode
  *    (pure-JVM RIFF walk, exact-integer amplitude stats), opt-in
  *    through [[Multimodal.AudioDecodeEnv]];
  *  - [[Multimodal.parseHeader]] — real container-header parses (byte
  *    layout only, no codec), always on;
  *  - [[Multimodal.decodeStub]] — md5-derived deterministic fake
  *    dimensions for opaque payloads, so the oracle can reproduce the
  *    values and the plumbing (schema, partition batching, feature
  *    extraction shape) stays fully exercised on codec-less fixtures.
  *
  * Video FRAME decode is permanently out of scope (declared in SURVEY
  * §'North-star operators'): it needs native codec libraries; the frame
  * fan-out plumbing is real and a codec-equipped deployment swaps only
  * the per-frame byte decoder.
  */
object Multimodal {

  /** Batch size for per-partition decoding — mirrors the batch shape a real
    * vectorized decoder (or Arrow-based UDF) would use.
    */
  val decodeBatchSize = 64

  /** STUB decoder. A real implementation would parse the image/audio header
    * here; the container has no codec libs, so dimensions are derived
    * deterministically from md5(payload) — same formula as the SQL oracle:
    * h = first 15 hex digits of md5; width = h mod 1024,
    * height = (h >> 10) mod 1024.
    */
  def decodeStub(payload: Array[Byte]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).take(8).map(b => f"$b%02x").mkString.take(15)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 1024, (h >> 10) % 1024)
  }

  /** REAL container-header parse for the formats that need no codec —
    * pure byte-layout reads from the public file-format specs:
    *  - PNG:  8-byte signature, then the IHDR chunk — width/height are
    *          big-endian u32 at offsets 16/20.
    *  - GIF:  "GIF87a"/"GIF89a", width/height little-endian u16 at 6/8.
    *  - BMP:  "BM" + BITMAPINFOHEADER (DIB size 40 at offset 14) —
    *          width/height signed little-endian i32 at 18/22 (height may
    *          be negative for top-down rows → abs). The DIB-size check
    *          also keeps text that merely starts with "BM" from parsing.
    *  - WAV:  "RIFF"…"WAVE", then a chunk walk — the fmt chunk's
    *          sample rate (data offset 4) and byte rate (offset 8), the
    *          data chunk's size; duration_ms = data*1000/byteRate.
    *  - JPEG: FF D8 (SOI), then a marker-segment walk to the first frame
    *          header SOF0…SOF15 (excluding DHT C4 / JPG C8 / DAC CC):
    *          height/width are big-endian u16 at payload offsets 1/3.
    *          Pure byte layout — no entropy decode needed for dimensions.
    *  - MP4:  ISO-BMFF box walk — [be32 size][4cc type] boxes; `ftyp`
    *          first, then into the `moov` container to its `mvhd` child:
    *          version-0 mvhd has timescale be32@12 and duration be32@16
    *          (version-1: be64 duration). duration_ms = dur·1000/timescale.
    *          Container METADATA is byte layout; only frame decode needs
    *          codecs.
    * Returns (format, a, b): image dims, (duration_ms, sample_rate) for
    * wav, or (duration_ms, timescale) for mp4; None for anything
    * unrecognized (the md5 stub then covers true codec work: pixel/sample
    * decode).
    *
    * Runs on UNTRUSTED corpus bytes, so every walk is hardened: a declared
    * chunk/segment size that would stall the cursor, drive it negative, or
    * point past the buffer ends the walk instead of looping or throwing.
    */
  def parseHeader(p: Array[Byte]): Option[(String, Long, Long)] = {
    def u8(i: Int): Long = p(i) & 0xffL
    def be16(i: Int): Long = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Long = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def ascii(i: Int, s: String): Boolean =
      p.length >= i + s.length && s.indices.forall(j => p(i + j) == s(j).toByte)
    if (p.length >= 24 && u8(0) == 0x89L && ascii(1, "PNG") &&
      u8(4) == 0x0dL && u8(5) == 0x0aL && u8(6) == 0x1aL && u8(7) == 0x0aL &&
      ascii(12, "IHDR"))
      Some(("png", be32(16), be32(20)))
    else if (p.length >= 10 && (ascii(0, "GIF87a") || ascii(0, "GIF89a")))
      Some(("gif", le16(6), le16(8)))
    else if (p.length >= 26 && ascii(0, "BM") && le32(14) == 40L)
      Some(("bmp", math.abs(le32(18).toInt).toLong, math.abs(le32(22).toInt).toLong))
    else if (p.length >= 4 && u8(0) == 0xffL && u8(1) == 0xd8L) {
      // JPEG marker walk: each segment is FF <marker> <be16 len incl. the
      // two length bytes>; standalone markers (TEM, RSTn) carry no length.
      // Baseline (SOF0) and progressive (SOF2) both put the dimensions at
      // the same frame-header offsets.
      var i = 2
      var dims: Option[(Long, Long)] = None
      var ok = true
      while (ok && dims.isEmpty && i + 4 <= p.length) {
        if (u8(i) != 0xffL) ok = false // desynced — not a marker stream
        else {
          val m = u8(i + 1)
          if (m == 0xffL) i += 1 // fill byte before a marker
          else if (m == 0x01L || (m >= 0xd0L && m <= 0xd7L)) i += 2 // standalone
          else if (m == 0xd9L || m == 0xdaL) ok = false // EOI / entropy data: no SOF seen
          else {
            val len = be16(i + 2).toInt
            if (len < 2 || i + 2 + len > p.length) ok = false // lies past the buffer
            else if (m >= 0xc0L && m <= 0xcfL && m != 0xc4L && m != 0xc8L && m != 0xccL) {
              // SOFn payload: precision u8, height be16, width be16
              if (len >= 7) dims = Some((be16(i + 7), be16(i + 5))) else ok = false
            } else i += 2 + len
          }
        }
      }
      dims.map { case (w, h) => ("jpeg", w, h) }
    } else if (p.length >= 12 && ascii(4, "ftyp")) {
      // ISO-BMFF (MP4/MOV): guarded box walk, same hardening rules as the
      // RIFF walk — sizes are untrusted, the cursor must strictly advance
      // in Long space and never leave the buffer.
      def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
      def boxSize(i: Int): Long = {
        val sz = be32(i)
        if (sz == 1L && i + 16 <= p.length) be64(i + 8) // extended size
        else if (sz == 0L) p.length.toLong - i // "to end of file"
        else sz
      }
      // walk [from, to) for a box of type `tcc`; returns its payload offset
      def findBox(from: Int, to: Int, tcc: String): Option[(Int, Long)] = {
        var i = from
        var found: Option[(Int, Long)] = None
        var ok = true
        while (ok && found.isEmpty && i + 8 <= to) {
          val sz = boxSize(i)
          if (ascii(i + 4, tcc)) found = Some((i, sz))
          else {
            val next = i.toLong + math.max(sz, 8L)
            if (next <= i || next > to.toLong) ok = false else i = next.toInt
          }
        }
        found
      }
      val dims = for {
        (moovOff, moovSz) <- findBox(0, p.length, "moov")
        moovEnd = math.min(p.length.toLong, moovOff + moovSz).toInt
        // children start after the box header: 8 bytes normally, 16 when
        // the size==1 extended (64-bit largesize) form was used — walking
        // from +8 there would misparse the largesize as a child header
        moovHdr = if (be32(moovOff) == 1L) 16 else 8
        (mvhdOff, _) <- findBox(moovOff + moovHdr, moovEnd, "mvhd")
        if mvhdOff + 12 <= p.length
        version = u8(mvhdOff + 8)
        result <- version match {
          case 0L if mvhdOff + 28 <= p.length =>
            val ts = be32(mvhdOff + 20)
            val dur = be32(mvhdOff + 24)
            if (ts > 0) Some((dur * 1000L / ts, ts)) else None
          case 1L if mvhdOff + 40 <= p.length =>
            val ts = be32(mvhdOff + 28)
            val dur = be64(mvhdOff + 32)
            if (ts > 0 && dur >= 0 && dur < Long.MaxValue / 1000)
              Some((dur * 1000L / ts, ts))
            else None
          case _ => None
        }
      } yield result
      dims.map { case (ms, ts) => ("mp4", ms, ts) }
    } else if (p.length >= 44 && ascii(0, "RIFF") && ascii(8, "WAVE")) {
      var i = 12
      var sampleRate = 0L
      var byteRate = 0L
      var dataSize = -1L
      var ok = true
      while (ok && i + 8 <= p.length && (byteRate == 0L || dataSize < 0L)) {
        val sz = le32(i + 4) // unsigned: Long in [0, 2^32)
        if (ascii(i, "fmt ") && sz >= 16 && i + 20 <= p.length) {
          sampleRate = le32(i + 12)
          byteRate = le32(i + 16)
        }
        if (ascii(i, "data")) dataSize = sz
        // chunks pad to even length. Advance in Long space: a crafted size
        // near 2^32 would wrap the Int cursor negative (crash) or leave it
        // stalled (infinite loop) — stop the walk instead; whatever fmt/data
        // facts were read before the bad chunk still count.
        val next = i.toLong + 8L + sz + (sz & 1L)
        if (next <= i || next > p.length.toLong) ok = false else i = next.toInt
      }
      if (byteRate > 0 && dataSize >= 0)
        Some(("wav", dataSize * 1000L / byteRate, sampleRate))
      else None
    } else None
  }

  /** Full decode: real header parse where byte layout suffices, md5 stub
    * for opaque payloads. Returns (format, width-or-duration, height-or-rate).
    */
  def decode(payload: Array[Byte]): (String, Long, Long) =
    parseHeader(payload).getOrElse {
      val (w, h) = decodeStub(payload)
      ("unknown", w, h)
    }

  /** Env flag enabling REAL pixel decode in [[extractPixelFeatures]]
    * (set to "1"). Opt-in so the oracle-pinned stub/header path stays the
    * default and bit-stable.
    */
  val PixelDecodeEnv = "SPARK_GRAFT_PIXEL_DECODE"

  /** Per-image pixel budget for [[decodeImage]] (64 Mpx ≈ 256 MB of ARGB
    * rows): a header claiming more is refused before any allocation —
    * corpus bytes are untrusted and a decode OOM is an executor-killing
    * Error, not a catchable decode failure.
    */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  /** Default silence threshold for every WAV quality/segmentation
    * decoder (|sample| ≤ SilenceMax = dead air): ±1 absorbs DC-offset
    * dither around the 8-bit midpoint without eating quiet speech. ONE
    * named constant — the shingle-state geometry sidecar
    * ([[graft.xscale.PerceptualDedup.writeShingleMeta]]) records and
    * validates this value, so the decoder defaults and the state
    * contract can never drift apart silently.
    */
  val SilenceMax: Long = 1L

  /** Default separator length for utterance segmentation (a run of ≥
    * GapMin consecutive silent samples splits utterances; shorter silent
    * runs are pauses INSIDE one). Shares [[SilenceMax]]'s
    * single-constant rule: the shingle-state meta records it.
    */
  val GapMin: Int = 8

  /** Pixel-level features: true dimensions plus the mean ITU-R BT.601
    * luma (e3: 0..255000) over every pixel, with `decoded` recording
    * whether the REAL decoder ran or the row fell back to the
    * header/stub path.
    */
  final case class PixelFeatures(
      doc_id: Long,
      modality: String,
      n_bytes: Long,
      format: String,
      width: Long,
      height: Long,
      mean_luma_e3: Long,
      decoded: Boolean,
      oversize: Boolean)

  /** Three-state pixel-decode outcome, so corpus triage can separate a
    * REAL image refused for an oversized header claim from bytes no
    * reader recognizes (the two were indistinguishable `None`s before):
    * [[Pixels]] = decoded, [[OversizeRefused]] = a reader accepted the
    * bytes but the header claims more than [[MaxDecodePixels]] (dims are
    * the header's CLAIM, never verified by allocation), [[Unreadable]] =
    * no installed reader / corrupt payload.
    */
  sealed trait ImageDecode
  final case class Pixels(
      format: String, width: Long, height: Long, meanLumaE3: Long) extends ImageDecode
  final case class OversizeRefused(
      format: String, width: Long, height: Long) extends ImageDecode
  case object Unreadable extends ImageDecode

  /** REAL image decode — pure-JVM javax.imageio (PNG/GIF/BMP/JPEG ship in
    * the JDK, no native codec libs needed): reads the pixels and returns
    * [[Pixels]] with (format, width, height, mean_luma_e3), the BT.601
    * luma (299·R + 587·G + 114·B per pixel, exact integer mean).
    * [[OversizeRefused]] when a reader accepts the bytes but the header
    * claims more than [[MaxDecodePixels]] (the refusal stays VISIBLE —
    * an oversized-but-real image is not the same triage bucket as
    * garbage). [[Unreadable]] when no installed reader recognizes the
    * bytes or the payload is corrupt — decode failures on untrusted
    * corpus bytes are data, not exceptions.
    */
  def decodeImage(payload: Array[Byte]): ImageDecode = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) Unreadable
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val fmt = r.getFormatName.toLowerCase
          // dimensions come from the HEADER (no pixel decode): refuse
          // oversized claims BEFORE r.read allocates w*h*4 bytes — a
          // crafted header on untrusted corpus bytes could otherwise OOM
          // the executor (an Error, which the catch below never sees)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels)
            OversizeRefused(fmt, hw, hh)
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            // bulk raster read, one row at a time: bounded memory even for
            // large images, no per-pixel getRGB call overhead
            val row = new Array[Int](w)
            var sum = 0L
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) {
                val p = row(x)
                sum += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
                x += 1
              }
              y += 1
            }
            Pixels(fmt, w.toLong, h.toLong, sum / (w.toLong * h))
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => Unreadable } finally in.close()
  }

  /** REAL pixel decode into a bw×bh grid of BLOCK luma sums — the
    * downsample primitive under [[PerceptualDedup.dhashBands]]: same
    * reader + oversize-header hardening as [[decodeImage]], but instead
    * of one global mean it accumulates the e3 BT.601 luma
    * (299·R + 587·G + 114·B, never divided) into bw×bh box blocks while
    * streaming rows — pixel (x, y) lands in block (x·bw div w,
    * y·bh div h), the exact partition of the [⌊bx·w/bw⌋, ⌊(bx+1)·w/bw⌋)
    * box convention. Returns (w, h, sums, counts) row-major
    * (block (bx, by) at by·bw + bx); callers compare block means through
    * cross-multiplied sums so UNEVEN block sizes stay exact. Memory is
    * one pixel row + bw·bh accumulators regardless of image size. None
    * for undecodable bytes, oversize header claims, or images smaller
    * than the grid.
    */
  def decodeBlockLumaE3(
      payload: Array[Byte],
      bw: Int,
      bh: Int): Option[(Int, Int, Array[Long], Array[Long])] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          // header-claim guard BEFORE r.read allocates (decodeImage's rule)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels) None
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            if (w < bw || h < bh) None
            else {
              val sums = new Array[Long](bw * bh)
              val cnts = new Array[Long](bw * bh)
              val row = new Array[Int](w)
              var y = 0
              while (y < h) {
                img.getRGB(0, y, w, 1, row, 0, w)
                val by = y.toLong * bh / h
                var x = 0
                while (x < w) {
                  val p = row(x)
                  val i = (by * bw + x.toLong * bw / w).toInt
                  sums(i) += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
                  cnts(i) += 1L
                  x += 1
                }
                y += 1
              }
              Some((w, h, sums, cnts))
            }
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  /** Exact-integer image EXPOSURE decode — the per-image counters the
    * x144 audit aggregates: (n_px, n_dark, n_bright, sum_e3, sq_e3) over
    * e3 BT.601 luma (`299·R + 587·G + 114·B`, range 0..255000, never
    * divided). `dark` = luma ≤ `darkMaxE3`, `bright` = luma ≥
    * `brightMinE3` — crushed-black and blown-white pixel mass, the
    * under/over-exposure signature; sum + sum-of-squares give exact
    * mean/variance sufficient statistics (contrast). sq_e3 peaks at
    * 255000² ≈ 6.5e10 per pixel — overflow needs > 1.4e8 px, already
    * refused by the [[MaxDecodePixels]] header guard. Same streaming-row
    * javax.imageio read as [[decodeBlockLumaE3]]: one pixel row of
    * memory regardless of image size; None for undecodable bytes or
    * oversize header claims.
    */
  def decodeImageExposure(
      payload: Array[Byte],
      darkMaxE3: Long = 30000L,
      brightMinE3: Long = 225000L): Option[(Long, Long, Long, Long, Long)] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels) None
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            val row = new Array[Int](w)
            var dark = 0L
            var bright = 0L
            var sum = 0L
            var sq = 0L
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) {
                val p = row(x)
                val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
                if (l <= darkMaxE3) dark += 1
                if (l >= brightMinE3) bright += 1
                sum += l
                sq += l * l
                x += 1
              }
              y += 1
            }
            Some((w.toLong * h, dark, bright, sum, sq))
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  /** Per-image exposure frame over REAL media (doc_id, payload) — the
    * library route for the x144 audit: (doc_id, decoded, n_px, n_dark,
    * n_bright, sum_e3, sq_e3); undecodable rows keep `decoded = false`
    * (failures are data). The drop rule is the caller's (e.g.
    * n_dark/n_px > 0.95 — a black thumbnail carries no training signal).
    */
  def imageExposureFrame(
      media: DataFrame,
      darkMaxE3: Long = 30000L,
      brightMinE3: Long = 225000L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeImageExposure(p, darkMaxE3, brightMinE3) match {
            case Some((n, d, b, s, q)) => (id, true, n, d, b, s, q)
            case None                  => (id, false, 0L, 0L, 0L, 0L, 0L)
          }
        })
      }
      .toDF("doc_id", "decoded", "n_px", "n_dark", "n_bright", "sum_e3", "sq_e3")
  }

  /** REAL pixel decode into FIXED-size tile luma moments — the image
    * analog of [[decodeAviFrameStats]]'s per-frame moments and the
    * primitive under crop containment
    * ([[graft.xscale.PerceptualDedup.imageTileShingles]]): the pixel grid
    * is cut into `tile`×`tile` squares ANCHORED AT THE ORIGIN (row-major
    * (tx, ty) tiles; partial right/bottom edge tiles are DROPPED — a crop
    * changes them anyway), and each tile's exact e3 BT.601 luma SUM and
    * per-pixel luma sum of SQUARES are returned. Tiles are fixed PIXEL
    * size — unlike [[decodeBlockLumaE3]]'s image-relative grid — so a
    * tile's moments do not depend on the total image size: a crop whose
    * offsets are MULTIPLES of `tile` preserves every interior tile's
    * moments bit-exact, which is the whole signal. Per-tile sq peaks at
    * 255000²·tile² ≈ 4.2e12 for the default 8 — far inside a long.
    * Memory is one pixel row + the tile arrays ((w·h)/tile² longs — the
    * video decoder's frames-per-clip shape). None for undecodable bytes,
    * oversize header claims, or images smaller than one tile.
    */
  def decodeImageTileStats(
      payload: Array[Byte],
      tile: Int = 8): Option[(Int, Int, Array[Long], Array[Long])] = {
    require(tile >= 1, s"tile=$tile: the tile edge must be >= 1")
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels) None
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            val tx = w / tile
            val ty = h / tile
            if (tx <= 0 || ty <= 0) None
            else {
              val sums = new Array[Long](tx * ty)
              val sqs = new Array[Long](tx * ty)
              val row = new Array[Int](w)
              val xMax = tx * tile
              val yMax = ty * tile
              var y = 0
              while (y < yMax) {
                img.getRGB(0, y, w, 1, row, 0, w)
                val base = (y / tile) * tx
                var x = 0
                while (x < xMax) {
                  val p = row(x)
                  val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
                    114L * (p & 0xff)
                  val i = base + x / tile
                  sums(i) += l
                  sqs(i) += l * l
                  x += 1
                }
                y += 1
              }
              Some((tx, ty, sums, sqs))
            }
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  /** ONE-PASS image decode for the `--pmedia --ptrim` hot path — the
    * image twin of the video side's shared [[decodeAviFrameStats]] pass:
    * the bw×bh image-relative box grid ([[decodeBlockLumaE3]]'s
    * convention — feeds the dHash bands) AND the fixed `tile`-px tile
    * moments ([[decodeImageTileStats]]'s convention — feeds the crop
    * shingles) accumulate from a single streaming-row read, so the
    * combined frame never decodes an image twice. Returns
    * (gridSums, gridCnts, tx, ty, tileSums, tileSqs); the grid halves are
    * bit-identical to [[decodeBlockLumaE3]] and the tile halves to
    * [[decodeImageTileStats]] (spec-pinned). `tx`/`ty` may be 0 for
    * images under one tile (band-hashable, no shingles — the under-2×2
    * rule upstream); None only when the grid side would be None.
    */
  def decodeImageBlocksTiles(
      payload: Array[Byte],
      bw: Int,
      bh: Int,
      tile: Int): Option[(Array[Long], Array[Long], Int, Int, Array[Long], Array[Long])] = {
    require(tile >= 1, s"tile=$tile: the tile edge must be >= 1")
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels) None
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            if (w < bw || h < bh) None
            else {
              val gSums = new Array[Long](bw * bh)
              val gCnts = new Array[Long](bw * bh)
              val tx = w / tile
              val ty = h / tile
              val tSums = new Array[Long](tx * ty)
              val tSqs = new Array[Long](tx * ty)
              val xMax = tx * tile
              val yMax = ty * tile
              val row = new Array[Int](w)
              var y = 0
              while (y < h) {
                img.getRGB(0, y, w, 1, row, 0, w)
                val by = y.toLong * bh / h
                val inTileRow = y < yMax
                val tBase = if (inTileRow) (y / tile) * tx else 0
                var x = 0
                while (x < w) {
                  val p = row(x)
                  val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
                    114L * (p & 0xff)
                  val gi = (by * bw + x.toLong * bw / w).toInt
                  gSums(gi) += l
                  gCnts(gi) += 1L
                  if (inTileRow && x < xMax) {
                    val ti = tBase + x / tile
                    tSums(ti) += l
                    tSqs(ti) += l * l
                  }
                  x += 1
                }
                y += 1
              }
              Some((gSums, gCnts, tx, ty, tSums, tSqs))
            }
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  /** ONE-PASS image decode with CANONICAL-RESCALE tile passes — the
    * x156 primitive under resized-crop containment: alongside the
    * optional bw×bh image-relative dHash grid ([[decodeBlockLumaE3]]'s
    * convention; `bw = bh = 0` disables it and its size gate) and the
    * native fixed-`tile` moments ([[decodeImageTileStats]]'s convention,
    * bit-identical halves, spec-pinned), each `scale` k ∈ `scales` runs
    * the tile pass over the CANONICAL k× BOX DOWNSCALE of the image —
    * each output pixel is the per-channel round-half-up integer average
    * of its k×k source block ((Σ + k²/2) / k², the box-reduction rule
    * area-average thumbnailers implement), lumas taken AFTER the channel
    * rounding so the simulated pass is bit-identical to DECODING AN
    * ACTUAL k×-downscaled render (spec-pinned against
    * [[decodeImageTileStats]] of a materialized downscale on random
    * content). Output dims floor (w/k × h/k — remainder rows/cols
    * dropped, the partial-tile rule one level up); a scale too small for
    * one tile yields (0, 0, empty, empty). One streaming row read feeds
    * every pass; per-scale extra memory is one downscaled channel-sum
    * row band (3·w/k longs) + its tile arrays. Returns
    * (gridSums, gridCnts, tx, ty, tileSums, tileSqs, perScaleTiles) —
    * grid arrays empty when disabled. None on undecodable bytes,
    * oversize header claims, or (grid enabled) images under the grid.
    */
  def decodeImageBlocksTilesScales(
      payload: Array[Byte],
      bw: Int,
      bh: Int,
      tile: Int,
      scales: Seq[Int]): Option[(Array[Long], Array[Long], Int, Int, Array[Long],
        Array[Long], Seq[(Int, Int, Array[Long], Array[Long])])] = {
    require(tile >= 1, s"tile=$tile: the tile edge must be >= 1")
    require(scales.forall(_ >= 2), s"scales=$scales: each downscale factor must be >= 2")
    val gridOn = bw > 0 && bh > 0
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val (hw, hh) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (hw <= 0 || hh <= 0 || hw * hh > MaxDecodePixels) None
          else {
            val img = r.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            if (gridOn && (w < bw || h < bh)) None
            else {
              val gSums = new Array[Long](if (gridOn) bw * bh else 0)
              val gCnts = new Array[Long](if (gridOn) bw * bh else 0)
              val tx = w / tile
              val ty = h / tile
              val tSums = new Array[Long](tx * ty)
              val tSqs = new Array[Long](tx * ty)
              val xMax = tx * tile
              val yMax = ty * tile
              // per-scale band state: channel sums for the CURRENT
              // downscaled row band, flushed every k native rows
              val sc = scales.map { k =>
                val wk = w / k
                val hk = h / k
                val txk = wk / tile
                val tyk = hk / tile
                (k, wk, hk, txk, tyk,
                  new Array[Long](wk), new Array[Long](wk), new Array[Long](wk),
                  new Array[Long](math.max(txk * tyk, 0)),
                  new Array[Long](math.max(txk * tyk, 0)))
              }
              val row = new Array[Int](w)
              var y = 0
              while (y < h) {
                img.getRGB(0, y, w, 1, row, 0, w)
                val by = if (gridOn) y.toLong * bh / h else 0L
                val inTileRow = y < yMax
                val tBase = if (inTileRow) (y / tile) * tx else 0
                var x = 0
                while (x < w) {
                  val p = row(x)
                  val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
                    114L * (p & 0xff)
                  if (gridOn) {
                    val gi = (by * bw + x.toLong * bw / w).toInt
                    gSums(gi) += l
                    gCnts(gi) += 1L
                  }
                  if (inTileRow && x < xMax) {
                    val ti = tBase + x / tile
                    tSums(ti) += l
                    tSqs(ti) += l * l
                  }
                  x += 1
                }
                sc.foreach { case (k, wk, hk, txk, tyk, sr, sg, sb, _, _) =>
                  if (y < k * hk && txk > 0 && tyk > 0) {
                    var x2 = 0
                    val x2Max = k * wk
                    while (x2 < x2Max) {
                      val p = row(x2)
                      val u = x2 / k
                      sr(u) += (p >> 16) & 0xff
                      sg(u) += (p >> 8) & 0xff
                      sb(u) += p & 0xff
                      x2 += 1
                    }
                  }
                }
                // flush completed downscaled row bands
                sc.foreach { case (k, wk, hk, txk, tyk, sr, sg, sb, ks, kq) =>
                  if ((y + 1) % k == 0 && y < k * hk && txk > 0 && tyk > 0) {
                    val v = y / k
                    if (v < tyk * tile) {
                      val div = k.toLong * k
                      val half = div / 2
                      val kBase = (v / tile) * txk
                      var u = 0
                      val uMax = txk * tile
                      while (u < uMax) {
                        // channel round-half-up FIRST, luma second — the
                        // order an actual downscaled render's decode takes
                        val cr = (sr(u) + half) / div
                        val cg = (sg(u) + half) / div
                        val cb = (sb(u) + half) / div
                        val l = 299L * cr + 587L * cg + 114L * cb
                        val ki = kBase + u / tile
                        ks(ki) += l
                        kq(ki) += l * l
                        u += 1
                      }
                    }
                    java.util.Arrays.fill(sr, 0L)
                    java.util.Arrays.fill(sg, 0L)
                    java.util.Arrays.fill(sb, 0L)
                  }
                }
                y += 1
              }
              Some((gSums, gCnts, tx, ty, tSums, tSqs,
                sc.map { case (_, _, _, txk, tyk, _, _, _, ks, kq) =>
                  if (txk <= 0 || tyk <= 0) (0, 0, Array.empty[Long], Array.empty[Long])
                  else (txk, tyk, ks, kq)
                }))
            }
          }
        } finally r.dispose()
      }
    } catch { case _: Exception => None } finally in.close()
  }

  /** The SCALED tile moments of ONE canonical k× box downscale — the
    * single-scale view of [[decodeImageBlocksTilesScales]], shaped like
    * [[decodeImageTileStats]] (None when the downscale is under one
    * tile). The property pin rides this entry: its output is
    * bit-identical to `decodeImageTileStats` of an actually-materialized
    * canonical downscale of the same image.
    */
  def decodeImageTileStatsScaled(
      payload: Array[Byte],
      tile: Int,
      scale: Int): Option[(Int, Int, Array[Long], Array[Long])] =
    decodeImageBlocksTilesScales(payload, 0, 0, tile, Seq(scale)).flatMap {
      case (_, _, _, _, _, _, sc) =>
        val (txk, tyk, ks, kq) = sc.head
        if (txk <= 0 || tyk <= 0) None else Some((txk, tyk, ks, kq))
    }

  /** Env flag enabling REAL WAV PCM sample decode in
    * [[extractAudioFeatures]] (set to "1") — the pixel-decode flag
    * pattern: opt-in, stub-default byte-stable.
    */
  val AudioDecodeEnv = "SPARK_GRAFT_AUDIO_DECODE"

  /** Audio-level features: header facts plus the PCM sample statistics
    * (mean absolute amplitude and RMS, exact integers), with `decoded`
    * recording whether sample data was actually read.
    */
  final case class AudioFeatures(
      doc_id: Long,
      modality: String,
      n_bytes: Long,
      format: String,
      duration_ms: Long,
      sample_rate: Long,
      n_samples: Long,
      mean_abs: Long,
      rms: Long,
      decoded: Boolean)

  /** Floor integer square root (exact — no float rounding crosses a pin). */
  private def isqrt(x: Long): Long = {
    var r = math.sqrt(x.toDouble).toLong
    while (r > 0 && r * r > x) r -= 1
    while ((r + 1) * (r + 1) <= x) r += 1
    r
  }

  /** Shared hardened RIFF/WAV layout walk — the chunk cursor both sample
    * decoders ([[decodeWavSamples]], [[decodeWavFrameSums]]) sit on:
    * returns (sample_rate, channels, bits, data_offset, n_samples) for
    * uncompressed PCM (format tag 1) at 8 or 16 bits, with the data
    * chunk's CLAIMED size clamped to the bytes actually present — a
    * crafted header cannot inflate work or allocation. None for non-WAV
    * bytes, compressed/float formats, or an empty sample region.
    */
  private def wavPcmLayout(p: Array[Byte]): Option[(Long, Int, Int, Int, Long)] = {
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) | ((p(o + 2) & 0xffL) << 16) |
        ((p(o + 3) & 0xffL) << 24)
    def ascii(o: Int, s: String): Boolean =
      o + s.length <= p.length && s.indices.forall(j => p(o + j) == s(j).toByte)
    if (p.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var i = 12
    var fmtTag = 0
    var channels = 0
    var sampleRate = 0L
    var bits = 0
    var dataOff = -1
    var dataLen = 0L
    var ok = true
    while (ok && i + 8 <= p.length && (bits == 0 || dataOff < 0)) {
      val sz = le32(i + 4)
      if (ascii(i, "fmt ") && sz >= 16 && i + 24 <= p.length) {
        fmtTag = le16(i + 8)
        channels = le16(i + 10)
        sampleRate = le32(i + 12)
        bits = le16(i + 22)
      }
      if (ascii(i, "data")) {
        dataOff = i + 8
        // clamp the header's claim to the bytes actually present
        dataLen = math.min(sz, (p.length - dataOff).toLong)
      }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > p.length.toLong) ok = false else i = next.toInt
    }
    if (fmtTag != 1 || channels <= 0 || sampleRate <= 0 || dataOff < 0) return None
    if (bits != 8 && bits != 16) return None
    val n = dataLen / (bits / 8)
    if (n <= 0) None else Some((sampleRate, channels, bits, dataOff, n))
  }

  /** REAL WAV PCM sample decode — pure JVM, no codec libs: walks the RIFF
    * chunks (same hardened cursor as [[parseHeader]]), accepts
    * uncompressed PCM (format tag 1) at 8 or 16 bits, and reads the
    * actual sample data into exact-integer statistics:
    * (sample_rate, duration_ms, n_samples, mean_abs, rms) where
    * mean_abs = Σ|s| div n and rms = floor(√(Σs² div n)) over every
    * channel sample (16-bit signed LE; 8-bit unsigned re-centered at
    * 128 per the WAV spec). The data chunk's CLAIMED size is clamped to
    * the bytes actually present — a crafted header cannot inflate work
    * or allocation (the scan is streaming, O(payload), zero-copy).
    * None for non-WAV bytes, compressed/float formats, or an empty
    * sample region — undecodable is data, not an exception.
    */
  def decodeWavSamples(p: Array[Byte]): Option[(Long, Long, Long, Long, Long)] = {
    val (sampleRate, channels, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    var sumAbs = 0L
    var sumSq = 0L
    var j = 0L
    while (j < n) {
      val o = dataOff + (j * bytesPer).toInt
      val s: Long =
        if (bits == 16) le16(o).toShort.toLong // signed LE
        else (p(o) & 0xff).toLong - 128L // unsigned, centered at 128
      val a = math.abs(s)
      sumAbs += a
      sumSq += a * a
      j += 1
    }
    val durationMs = (n / channels) * 1000L / sampleRate
    Some((sampleRate, durationMs, n, sumAbs / n, isqrt(sumSq / n)))
  }

  /** Exact-integer audio QUALITY decode — the per-clip counters the x143
    * audit aggregates: (n_samples, n_silent, n_clipped, sum_abs, sum_sq,
    * peak) over centered samples. `silent` = |s| ≤ `silenceMax` (dead
    * air); `clipped` = s at the format's rail (−2^(bits−1) or
    * 2^(bits−1)−1 — a clipped recording parks samples at the rails, the
    * signature no spectral feature is needed to detect). All integer
    * arithmetic (sum_sq of an 8-bit clip of bounded length cannot
    * overflow a long; 16-bit peaks at 2³⁰ per sample — 2³³ samples to
    * overflow, far past any clip). Same hardened layout walk as the
    * other decoders; None for non-PCM bytes.
    */
  def decodeWavQuality(
      p: Array[Byte],
      silenceMax: Long = SilenceMax): Option[(Long, Long, Long, Long, Long, Long)] = {
    val (_, _, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    val clipHi = (1L << (bits - 1)) - 1
    val clipLo = -(1L << (bits - 1))
    var silent = 0L
    var clipped = 0L
    var sumAbs = 0L
    var sumSq = 0L
    var peak = 0L
    var j = 0L
    while (j < n) {
      val o = dataOff + (j * bytesPer).toInt
      val s: Long =
        if (bits == 16) le16(o).toShort.toLong
        else (p(o) & 0xff).toLong - 128L
      val a = math.abs(s)
      if (a <= silenceMax) silent += 1
      if (s >= clipHi || s <= clipLo) clipped += 1
      sumAbs += a
      sumSq += a * a
      if (a > peak) peak = a
      j += 1
    }
    Some((n, silent, clipped, sumAbs, sumSq, peak))
  }

  /** Per-clip audio quality frame over REAL media (doc_id, payload) —
    * the library route for the x143 audit: (doc_id, decoded, n_samples,
    * n_silent, n_clipped, sum_abs, sum_sq, peak); rows that are not
    * decodable PCM keep `decoded = false` with zeroed counters (decode
    * failures are data). Batched per partition like every decode step.
    * The downstream filter rule is the caller's (e.g. drop clips with
    * n_silent/n_samples > 0.9 or n_clipped/n_samples > 0.05 — dead air
    * and clipped garbage carry no training signal).
    */
  def audioQualityFrame(media: DataFrame, silenceMax: Long = SilenceMax): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeWavQuality(p, silenceMax) match {
            case Some((n, sil, clip, sa, sq, pk)) => (id, true, n, sil, clip, sa, sq, pk)
            case None                             => (id, false, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        })
      }
      .toDF("doc_id", "decoded", "n_samples", "n_silent", "n_clipped",
        "sum_abs", "sum_sq", "peak")
  }

  /** Windowed exact-integer WAV decode: the centered sample sum of each of
    * `nFrames` equal frames (frame f covers samples [f·spf, (f+1)·spf),
    * spf = n div nFrames; the tail remainder is dropped so every frame
    * compares over the SAME sample count — sums are then order-equivalent
    * to means with no division in sight). Channels are NOT de-interleaved:
    * a frame is a contiguous slice of the sample stream, which is the
    * fingerprinting convention (energy envelope of the mix), not the
    * per-channel analytics one. None when the payload is not decodable
    * PCM ([[wavPcmLayout]]) or has fewer than `nFrames` samples. Same
    * hardened cursor + clamped claims as [[decodeWavSamples]]; streaming
    * O(payload), zero-copy.
    */
  def decodeWavFrameSums(p: Array[Byte], nFrames: Int): Option[Array[Long]] = {
    val (_, _, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    if (nFrames <= 0 || n < nFrames) return None
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    val spf = n / nFrames
    val sums = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var s = 0L
      var j = f * spf
      val end = j + spf
      while (j < end) {
        val o = dataOff + (j * bytesPer).toInt
        s += (if (bits == 16) le16(o).toShort.toLong else (p(o) & 0xff).toLong - 128L)
        j += 1
      }
      sums(f) = s
      f += 1
    }
    Some(sums)
  }

  /** Exact-integer UTTERANCE segmentation — the audio sibling of the
    * scene-cut rule ([[decodeAviSceneCuts]]), the VAD-style signal a
    * speech corpus keys segmentation on: a run of ≥ `gapMin` consecutive
    * SILENT samples (|s| ≤ `silenceMax`, the x143 rule) is a SEPARATOR;
    * an utterance is a maximal segment between separators containing at
    * least one non-silent sample (short silent runs under `gapMin` stay
    * INSIDE an utterance — pauses are not boundaries). Returns
    * (n_samples, n_utterances, longest_utterance) with the longest
    * measured in samples from segment start to the first sample of the
    * closing separator. Same hardened RIFF walk as every WAV decoder;
    * None for non-PCM bytes. The registered x151 fixture's silence falls
    * in full 8-sample bands (structural exactness), so boundary behavior
    * at ARBITRARY alignment is pinned separately: XScalePropertySpec runs
    * random unaligned silence runs against an independent sequential
    * split-on-separator reference at both bit depths and every
    * (gapMin, silenceMax) combination.
    */
  def decodeWavUtterances(
      p: Array[Byte],
      silenceMax: Long = SilenceMax,
      gapMin: Int = GapMin): Option[(Long, Long, Long)] = {
    // validate BEFORE the parse: an invalid gapMin must throw on every
    // call, not silently return None on non-WAV rows
    require(gapMin >= 1, s"gapMin=$gapMin must be >= 1")
    val (_, _, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    var utt = 0L
    var longest = 0L
    var segStart = 0L // first sample index of the open segment
    var segVoiced = false // the open segment saw a non-silent sample
    var silentRun = 0L
    var j = 0L
    def closeSegment(endExclusive: Long): Unit = {
      if (segVoiced) {
        utt += 1
        val len = endExclusive - segStart
        if (len > longest) longest = len
      }
    }
    while (j < n) {
      val o = dataOff + (j * bytesPer).toInt
      val s: Long =
        if (bits == 16) le16(o).toShort.toLong
        else (p(o) & 0xff).toLong - 128L
      if (math.abs(s) <= silenceMax) {
        silentRun += 1
        if (silentRun == gapMin) {
          // the run just became a separator: the segment ended where it
          // began, gapMin samples back
          closeSegment(j + 1 - gapMin)
          segVoiced = false
        }
      } else {
        if (silentRun >= gapMin) segStart = j // new segment after a separator
        silentRun = 0
        segVoiced = true
      }
      j += 1
    }
    if (silentRun < gapMin) closeSegment(n)
    Some((n, utt, longest))
  }

  /** Per-UTTERANCE voiced-core moments — the audio containment
    * primitive (x153), turning [[decodeWavUtterances]]'s segmentation
    * into CONTENT-ANCHORED framing: for every utterance (the same
    * maximal-voiced-segment rule, same `silenceMax`/`gapMin` semantics),
    * the exact signed sample SUM and sum of SQUARES over its VOICED CORE
    * — from the first to the last non-silent sample, interior sub-gap
    * pauses included, leading/trailing sub-gap silence EXCLUDED. The
    * exclusion is the whole signal: an excerpt cut anywhere INSIDE a
    * silence separator leaves at most gapMin−1 silent samples attached
    * outside every core, so every surviving utterance's moments are
    * bit-exact — the trim invariance raw samples cannot give (any
    * sample-grid framing moves with the cut; the documented reason the
    * sample-level containment form does not exist). Limits, documented:
    * a cut INSIDE an utterance changes that utterance's moments (its
    * bigrams die, neighbors survive — the containment ratio absorbs
    * one edge cut like the video form absorbs a one-frame edit);
    * continuous audio with no ≥ gapMin silence is ONE utterance → no
    * bigrams → no signal; a re-gained copy moves every moment (the
    * brightness rule). Returns the per-utterance (sums, sqs) arrays in
    * stream order; None for non-PCM bytes. Sum of squares peaks at
    * 32768²·n — a long overflows past ~8.6e9 samples, far past any
    * clamped RIFF payload (data length ≤ 2³² bytes).
    */
  def decodeWavUtteranceStats(
      p: Array[Byte],
      silenceMax: Long = SilenceMax,
      gapMin: Int = GapMin): Option[(Array[Long], Array[Long])] = {
    require(gapMin >= 1, s"gapMin=$gapMin must be >= 1")
    val (_, _, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var voiced = false
    var silentRun = 0L
    var acc = 0L
    var accSq = 0L
    var tail = 0L // the trailing-silence share of acc since the last voiced sample
    var tailSq = 0L
    def emit(): Unit = { sums += acc - tail; sqs += accSq - tailSq; voiced = false }
    var j = 0L
    while (j < n) {
      val o = dataOff + (j * bytesPer).toInt
      val s: Long =
        if (bits == 16) le16(o).toShort.toLong
        else (p(o) & 0xff).toLong - 128L
      if (math.abs(s) <= silenceMax) {
        silentRun += 1
        if (voiced) {
          acc += s; accSq += s * s
          tail += s; tailSq += s * s
          if (silentRun == gapMin) emit()
        }
      } else {
        silentRun = 0
        if (!voiced) { voiced = true; acc = 0L; accSq = 0L }
        acc += s; accSq += s * s
        tail = 0L; tailSq = 0L
      }
      j += 1
    }
    if (voiced) emit()
    Some((sums.toArray, sqs.toArray))
  }

  /** ONE-PASS WAV decode for the `--pmedia --ptrim` hot path — the audio
    * twin of [[decodeImageBlocksTiles]]: the `nWindows` equal window sums
    * (the audio dHash's primitive, bit-identical to
    * [[decodeWavFrameSums]]) AND the per-utterance voiced-core moments
    * (bit-identical to [[decodeWavUtteranceStats]]) from a single byte
    * scan. The window half is None when the clip has fewer than
    * `nWindows` samples (the smaller-than-grid rule — the caller falls
    * back to the classic width on what is by definition a tiny payload);
    * the utterance half is always present. None for non-PCM bytes.
    */
  def decodeWavWindowsUtterances(
      p: Array[Byte],
      nWindows: Int,
      silenceMax: Long = SilenceMax,
      gapMin: Int = GapMin): Option[(Option[Array[Long]], Array[Long], Array[Long])] = {
    require(gapMin >= 1, s"gapMin=$gapMin must be >= 1")
    require(nWindows > 0, s"nWindows=$nWindows must be > 0")
    val (_, _, bits, dataOff, n) = wavPcmLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val bytesPer = bits / 8
    val windowed = n >= nWindows
    val spf = if (windowed) n / nWindows else 0L
    val winEnd = spf * nWindows
    val wsums = if (windowed) new Array[Long](nWindows) else null
    val uSums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val uSqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var voiced = false
    var silentRun = 0L
    var acc = 0L
    var accSq = 0L
    var tail = 0L
    var tailSq = 0L
    def emit(): Unit = { uSums += acc - tail; uSqs += accSq - tailSq; voiced = false }
    var j = 0L
    while (j < n) {
      val o = dataOff + (j * bytesPer).toInt
      val s: Long =
        if (bits == 16) le16(o).toShort.toLong
        else (p(o) & 0xff).toLong - 128L
      if (windowed && j < winEnd) wsums((j / spf).toInt) += s
      if (math.abs(s) <= silenceMax) {
        silentRun += 1
        if (voiced) {
          acc += s; accSq += s * s
          tail += s; tailSq += s * s
          if (silentRun == gapMin) emit()
        }
      } else {
        silentRun = 0
        if (!voiced) { voiced = true; acc = 0L; accSq = 0L }
        acc += s; accSq += s * s
        tail = 0L; tailSq = 0L
      }
      j += 1
    }
    if (voiced) emit()
    Some((Option(wsums), uSums.toArray, uSqs.toArray))
  }

  /** Per-clip utterance frame over REAL media — the library route for the
    * x151 audit: (doc_id, decoded, n_samples, n_utterances,
    * longest_utterance); undecodable rows keep `decoded = false` with
    * zeroed counters. Batched per partition like every decode step.
    */
  def audioUtteranceFrame(
      media: DataFrame,
      silenceMax: Long = SilenceMax,
      gapMin: Int = GapMin): DataFrame = {
    // driver-side validation: an invalid gapMin must fail HERE, not as an
    // executor-side task failure inside the distributed map
    require(gapMin >= 1, s"gapMin=$gapMin must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeWavUtterances(p, silenceMax, gapMin) match {
            case Some((ns, nu, lu)) => (id, true, ns, nu, lu)
            case None               => (id, false, 0L, 0L, 0L)
          }
        })
      }
      .toDF("doc_id", "decoded", "n_samples", "n_utterances", "longest_utterance")
  }

  /** Hardened RIFF/AVI layout walk — the video modality's chunk cursor,
    * the same discipline as [[wavPcmLayout]] one container over (AVI is
    * RIFF too): returns (width, height, movi_offset, movi_end) for a
    * payload with a 'hdrl'/'avih' main header and a 'movi' frame list.
    * Every chunk's CLAIMED size is clamped to the bytes actually present
    * (a crafted header cannot inflate work or allocation), and a header
    * claiming more than [[MaxDecodePixels]] pixels per frame is refused
    * BEFORE any frame byte is touched — the image reader's
    * oversize-header rule. None for non-AVI bytes (a WAV payload fails
    * the 'AVI ' fourcc, a BMP fails 'RIFF' — the three modality spaces
    * are disjoint by construction).
    */
  private def aviLayout(p: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def le32(o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) | ((p(o + 2) & 0xffL) << 16) |
        ((p(o + 3) & 0xffL) << 24)
    def ascii(o: Int, s: String): Boolean =
      o + s.length <= p.length && s.indices.forall(j => p(o + j) == s(j).toByte)
    if (p.length < 24 || !ascii(0, "RIFF") || !ascii(8, "AVI ")) return None
    var i = 12
    var w = 0L
    var h = 0L
    var moviOff = -1
    var moviEnd = -1
    var ok = true
    while (ok && i + 8 <= p.length && (w == 0 || moviOff < 0)) {
      val sz = le32(i + 4)
      if (ascii(i, "LIST") && i + 12 <= p.length) {
        // clamp the list's claim to the bytes actually present
        val end = math.min(i + 8 + sz, p.length.toLong).toInt
        if (ascii(i + 8, "hdrl")) {
          // walk the header list for the 'avih' main header (56-byte
          // MainAVIHeader: dwWidth at data offset 32, dwHeight at 36)
          var j = i + 12
          var inOk = true
          while (inOk && j + 8 <= end && w == 0) {
            val s2 = le32(j + 4)
            // field reads bounded by the CLAMPED hdrl list end, not
            // p.length — strict list containment: bytes outside the
            // claimed list are never consumed as header fields
            if (ascii(j, "avih") && s2 >= 40 && j + 48 <= end) {
              w = le32(j + 8 + 32)
              h = le32(j + 8 + 36)
            }
            val nx = j.toLong + 8L + s2 + (s2 & 1L)
            if (nx <= j || nx > end) inOk = false else j = nx.toInt
          }
        } else if (ascii(i + 8, "movi")) {
          moviOff = i + 12
          moviEnd = end
        }
      }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > p.length.toLong) ok = false else i = next.toInt
    }
    if (w <= 0 || h <= 0 || moviOff < 0) None
    // oversize refusal, pre-decode — each dimension checked BEFORE the
    // product: w = h = 0xFFFFFFFF would wrap w*h past Long.MaxValue to a
    // negative value and sail through a product-only guard (then
    // rowSize = 0 frames of luma 0 — every crafted payload a mutual
    // "near-dup"); per-dimension bounds make the product overflow-free
    else if (w > MaxDecodePixels || h > MaxDecodePixels) None
    else if (w * h > MaxDecodePixels) None
    else Some((w.toInt, h.toInt, moviOff, moviEnd))
  }

  /** REAL AVI video decode into per-frame luma statistics — the frame
    * primitive under both the temporal fingerprint
    * ([[decodeAviWindowSums]]) and the quality audit
    * ([[decodeAviQuality]]): walks the 'movi' list's '00db' chunks (each
    * an uncompressed 24-bit DIB frame — BGR, rows padded to 4 bytes; the
    * BMP pixel-array layout one container over) and returns each frame's
    * exact e3 BT.601 luma SUM and sum of per-pixel luma SQUARES. Frames
    * whose chunk is smaller than the header's rowSize·h are SKIPPED, not
    * partially summed (a truncated frame is data, never a different
    * number); non-'00db' chunks (compressed frames, audio streams, index
    * chunks) are skipped over by the cursor. Sum-of-squares stays in a
    * long: per-pixel luma ≤ 255 000, squared ≤ 6.6e10, × the
    * [[MaxDecodePixels]] frame cap = 4.4e18 < 2⁶³. None when the layout
    * walk fails or no complete frame exists.
    */
  /** The single 'movi' cursor every AVI frame consumer shares
    * ([[decodeAviFrameStats]], [[extractAviFrames]]) — ONE source of
    * truth for the completeness/skip rules: `f(frameDataOffset)` fires
    * for each COMPLETE '00db' frame (claimed size covers `frameBytes`
    * AND the bytes are actually present); truncated frames and foreign
    * chunks are skipped; a non-advancing or out-of-range claim stops
    * the walk.
    */
  private def foreachAviFrame(
      p: Array[Byte],
      moviOff: Int,
      moviEnd: Int,
      frameBytes: Long)(f: Int => Unit): Unit = {
    def le32(o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) | ((p(o + 2) & 0xffL) << 16) |
        ((p(o + 3) & 0xffL) << 24)
    def ascii(o: Int, s: String): Boolean =
      o + s.length <= p.length && s.indices.forall(j => p(o + j) == s(j).toByte)
    var i = moviOff
    var ok = true
    while (ok && i + 8 <= moviEnd) {
      val sz = le32(i + 4)
      // completeness against moviEnd, not p.length — strict list
      // containment: a frame's data must lie inside the clamped 'movi'
      // list, bytes past the claimed list are never summed as pixels
      if (ascii(i, "00db") && sz >= frameBytes && i + 8 + frameBytes <= moviEnd.toLong)
        f(i + 8)
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > moviEnd) ok = false else i = next.toInt
    }
  }

  def decodeAviFrameStats(p: Array[Byte]): Option[(Int, Int, Array[Long], Array[Long])] = {
    val (w, h, moviOff, moviEnd) = aviLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    val rowSize = ((w * 3 + 3) / 4) * 4
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    foreachAviFrame(p, moviOff, moviEnd, rowSize.toLong * h) { off =>
      var s = 0L
      var sq = 0L
      var y = 0
      while (y < h) {
        val ro = off + y * rowSize
        var x = 0
        while (x < w) {
          val o = ro + 3 * x
          val l = 299L * (p(o + 2) & 0xff) + 587L * (p(o + 1) & 0xff) +
            114L * (p(o) & 0xff)
          s += l
          sq += l * l
          x += 1
        }
        y += 1
      }
      sums += s
      sqs += sq
    }
    if (sums.isEmpty) None else Some((w, h, sums.toArray, sqs.toArray))
  }

  /** Per-frame TILE luma moments of an AVI — [[decodeImageTileStats]]'s
    * fixed `tile`-px origin-anchored grid applied to EVERY complete
    * '00db' frame, the decode primitive under video SPATIAL-crop
    * containment ([[graft.xscale.PerceptualDedup.videoFrameTileShingles]]):
    * each frame yields a tx×ty row-major grid of exact (luma sum, luma
    * sum-of-squares) tile moments, tx = w div tile, ty = h div tile,
    * partial edge tiles dropped. The grid is anchored at the IMAGE
    * top-left (DIB rows are stored bottom-up — image row y reads from
    * stored row h−1−y — so a tile here is bit-identical to the same
    * pixels decoded through javax.imageio by [[decodeImageTileStats]]:
    * the cross-modal identity thumbnail provenance rides on). Same
    * hardened walk as [[decodeAviFrameStats]] (strict 'movi' list
    * containment, truncated frames skipped, oversize headers refused by
    * [[aviLayout]]). Returns (tx, ty, per-frame sums, per-frame sqs);
    * None when the layout walk fails, the frame grid is under one tile,
    * or no complete frame exists.
    */
  def decodeAviFrameTileStats(
      p: Array[Byte],
      tile: Int = 8): Option[(Int, Int, Array[Array[Long]], Array[Array[Long]])] = {
    require(tile >= 1, s"tile=$tile: the tile edge must be >= 1")
    val (w, h, moviOff, moviEnd) = aviLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    val tx = w / tile
    val ty = h / tile
    if (tx <= 0 || ty <= 0) return None
    val rowSize = ((w * 3 + 3) / 4) * 4
    val xMax = tx * tile
    val yMax = ty * tile
    val fs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val fq = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    foreachAviFrame(p, moviOff, moviEnd, rowSize.toLong * h) { off =>
      val sums = new Array[Long](tx * ty)
      val sqs = new Array[Long](tx * ty)
      var y = 0
      while (y < yMax) {
        // bottom-up DIB: image row y lives at stored row h-1-y
        val ro = off + (h - 1 - y) * rowSize
        val base = (y / tile) * tx
        var x = 0
        while (x < xMax) {
          val o = ro + 3 * x
          val l = 299L * (p(o + 2) & 0xff) + 587L * (p(o + 1) & 0xff) +
            114L * (p(o) & 0xff)
          val i = base + x / tile
          sums(i) += l
          sqs(i) += l * l
          x += 1
        }
        y += 1
      }
      fs += sums
      fq += sqs
    }
    if (fs.isEmpty) None else Some((tx, ty, fs.toArray, fq.toArray))
  }

  /** ONE-PASS video decode for the `--pmedia --ptrim` hot path — the
    * video twin of [[decodeImageBlocksTiles]] now that videos carry TWO
    * shingle spaces: whole-frame luma moments ([[decodeAviFrameStats]]'s
    * convention — feeds the temporal dHash bands AND the vid frame-bigram
    * shingles) and per-frame `tile`-px tile moments
    * ([[decodeAviFrameTileStats]]'s convention — feeds the vsp
    * spatial-crop shingles) accumulate from a single pixel pass over each
    * frame, so the combined frame never decodes a video twice. Returns
    * (frameSums, frameSqs, tx, ty, tileSums, tileSqs); the frame halves
    * are bit-identical to [[decodeAviFrameStats]] and the tile halves to
    * [[decodeAviFrameTileStats]] (spec-pinned). `tx`/`ty` may be 0 for
    * frames under one tile (band-hashable, no vsp shingles — the
    * under-2×2 rule upstream); None only when the frame side would be
    * None.
    */
  def decodeAviFrameStatsTiles(
      p: Array[Byte],
      tile: Int): Option[(Array[Long], Array[Long], Int, Int, Array[Array[Long]], Array[Array[Long]])] = {
    require(tile >= 1, s"tile=$tile: the tile edge must be >= 1")
    val (w, h, moviOff, moviEnd) = aviLayout(p) match {
      case Some(l) => l
      case None    => return None
    }
    val tx = w / tile
    val ty = h / tile
    val rowSize = ((w * 3 + 3) / 4) * 4
    val xMax = tx * tile
    val yMax = ty * tile
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    val fq = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    foreachAviFrame(p, moviOff, moviEnd, rowSize.toLong * h) { off =>
      var s = 0L
      var sq = 0L
      val tSums = if (tx > 0 && ty > 0) new Array[Long](tx * ty) else null
      val tSqs = if (tSums != null) new Array[Long](tx * ty) else null
      var y = 0
      while (y < h) {
        val ro = off + (h - 1 - y) * rowSize
        val inTileRow = tSums != null && y < yMax
        val tBase = if (inTileRow) (y / tile) * tx else 0
        var x = 0
        while (x < w) {
          val o = ro + 3 * x
          val l = 299L * (p(o + 2) & 0xff) + 587L * (p(o + 1) & 0xff) +
            114L * (p(o) & 0xff)
          s += l
          sq += l * l
          if (inTileRow && x < xMax) {
            val ti = tBase + x / tile
            tSums(ti) += l
            tSqs(ti) += l * l
          }
          x += 1
        }
        y += 1
      }
      sums += s
      sqs += sq
      if (tSums != null) { fs += tSums; fq += tSqs }
    }
    if (sums.isEmpty) None
    else Some((sums.toArray, sqs.toArray, tx, ty, fs.toArray, fq.toArray))
  }

  /** Windowed exact-integer AVI decode — [[decodeWavFrameSums]] one
    * modality over (a direct-use convenience; the hash entries window
    * via [[graft.xscale.PerceptualDedup.videoBandsFromSums]] over one
    * shared stats pass): the luma sum of each of `nWindows` equal WINDOWS of
    * frames (window v covers frames [v·fpw, (v+1)·fpw), fpw = n div
    * nWindows; the tail remainder is dropped so every window sums the
    * SAME frame count — and every frame the same pixel count, so sums
    * compare like means with no division). The temporal-fingerprint
    * invariances fall out exactly: a +c brightness shift adds the same
    * 1000·c·npx·fpw to every window, and a k× re-render multiplies every
    * window by k² — neither changes any adjacent-window comparison. None
    * when the payload is not a decodable AVI or has fewer than
    * `nWindows` complete frames.
    */
  def decodeAviWindowSums(p: Array[Byte], nWindows: Int): Option[Array[Long]] = {
    val (_, _, frameSums, _) = decodeAviFrameStats(p) match {
      case Some(l) => l
      case None    => return None
    }
    val n = frameSums.length
    if (nWindows <= 0 || n < nWindows) return None
    val fpw = n / nWindows
    Some(Array.tabulate(nWindows) { v =>
      var s = 0L
      var f = v * fpw
      val end = f + fpw
      while (f < end) { s += frameSums(f); f += 1 }
      s
    })
  }

  /** Exact-integer video QUALITY decode — the per-clip counters the x146
    * audit aggregates, [[decodeWavQuality]]'s twin for the pixel-stream
    * modality: (n_frames, n_black, n_frozen, lum_sum, lum_peak) where
    * `black` = frame MEAN e3 luma ≤ `blackMaxMeanE3` (dead frames — a
    * leader/trailer/failed-capture carries no training signal, the
    * x144 crushed-black rule per FRAME), `frozen` = a frame whose luma
    * sum AND sum-of-squares both equal the previous frame's (a static
    * scene holds both envelope moments; two different frames colliding
    * on BOTH integer moments is the detector's documented approximation
    * — exact frame identity would need a per-frame content hash),
    * lum_sum = Σ frame sums, lum_peak = max frame sum. All exact
    * integers; same hardened walk, truncated frames skipped.
    */
  def decodeAviQuality(
      p: Array[Byte],
      blackMaxMeanE3: Long = 30000L): Option[(Long, Long, Long, Long, Long)] = {
    val (w, h, sums, sqs) = decodeAviFrameStats(p) match {
      case Some(l) => l
      case None    => return None
    }
    val npx = w.toLong * h
    var black = 0L
    var frozen = 0L
    var total = 0L
    var peak = 0L
    var f = 0
    while (f < sums.length) {
      val s = sums(f)
      if (s <= blackMaxMeanE3 * npx) black += 1
      if (f > 0 && s == sums(f - 1) && sqs(f) == sqs(f - 1)) frozen += 1
      total += s
      if (s > peak) peak = s
      f += 1
    }
    Some((sums.length.toLong, black, frozen, total, peak))
  }

  /** Per-clip video quality frame over REAL media (doc_id, payload) —
    * the library route for the x146 audit, [[audioQualityFrame]]'s twin:
    * (doc_id, decoded, n_frames, n_black, n_frozen, lum_sum, lum_peak);
    * rows that are not decodable AVI keep `decoded = false` with zeroed
    * counters (decode failures are data). Batched per partition like
    * every decode step. The downstream filter rule is the caller's
    * (e.g. drop clips with n_black/n_frames > 0.5 or n_frozen/n_frames
    * > 0.9 — dead footage and frozen captures carry no training signal).
    */
  def videoQualityFrame(media: DataFrame, blackMaxMeanE3: Long = 30000L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeAviQuality(p, blackMaxMeanE3) match {
            case Some((nf, bk, fz, ls, pk)) => (id, true, nf, bk, fz, ls, pk)
            case None                       => (id, false, 0L, 0L, 0L, 0L, 0L)
          }
        })
      }
      .toDF("doc_id", "decoded", "n_frames", "n_black", "n_frozen", "lum_sum", "lum_peak")
  }

  /** Modality-detected media QUALITY verdict — the composite gate the
    * `Cli corpus --mquality` stage and the x150 audit run on: one decode
    * attempt chain (image reader → RIFF/WAV → RIFF/AVI, each None on
    * foreign bytes) computes the modality's own exact-integer counters
    * and applies its documented drop rule:
    *
    *   - image ([[decodeImageExposure]]): flagged when > 95% of pixels
    *     are crushed dark OR > 95% blown bright (20·n > 19·n_px) — a
    *     black/white rectangle carries no training signal;
    *   - audio ([[decodeWavQuality]]): flagged when > 90% of samples are
    *     silent (10·n_silent > 9·n) OR > 10% are parked at the format
    *     rails (10·n_clipped > n) — dead air / clipped garbage;
    *   - video ([[decodeAviQuality]]): flagged when > 50% of frames are
    *     black (2·n_black > n_frames) OR > 90% frozen
    *     (10·n_frozen > 9·n_frames) — dead footage / stuck capture.
    *
    * All integer comparisons (no float crosses a gate decision). Returns
    * (doc_id, decoded, mod, flagged); undecodable rows keep
    * `decoded = false, flagged = false` — failures are data and the gate
    * never drops what it cannot read. Callers wanting different
    * thresholds compose the per-modality frames
    * ([[imageExposureFrame]] / [[audioQualityFrame]] /
    * [[videoQualityFrame]]) directly.
    */
  def mediaQualityFrame(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeImageExposure(p) match {
            case Some((npx, dark, bright, _, _)) =>
              (id, true, "img", 20L * dark > 19L * npx || 20L * bright > 19L * npx)
            case None =>
              decodeWavQuality(p) match {
                case Some((n, sil, clip, _, _, _)) =>
                  (id, true, "aud", 10L * sil > 9L * n || 10L * clip > n)
                case None =>
                  decodeAviQuality(p) match {
                    case Some((nf, black, frozen, _, _)) =>
                      (id, true, "vid", 2L * black > nf || 10L * frozen > 9L * nf)
                    case None => (id, false, "", false)
                  }
              }
          }
        })
      }
      .toDF("doc_id", "decoded", "mod", "flagged")
  }

  /** Exact-integer SCENE-CUT decode — shot-boundary detection over the
    * frame luma envelope: a CUT is a frame whose mean e3 luma moves more
    * than `cutMinMeanDeltaE3` from its predecessor (|Δ frame sum| >
    * threshold · npx, exact integers — a hard cut jumps the envelope;
    * gradual fades under the threshold are the documented limit, as is
    * a cut between equal-luminance scenes). Returns (n_frames, n_cuts,
    * longest_scene) where `longest_scene` is the longest run of frames
    * between cuts — the slideshow-vs-continuous-footage signal a frame
    * sampler keys on (one frame per SCENE beats one per stride when
    * scenes are long). Same hardened walk; None for non-AVI bytes.
    */
  def decodeAviSceneCuts(
      p: Array[Byte],
      cutMinMeanDeltaE3: Long = 50000L): Option[(Long, Long, Long)] = {
    val (w, h, sums, _) = decodeAviFrameStats(p) match {
      case Some(l) => l
      case None    => return None
    }
    val npx = w.toLong * h
    var cuts = 0L
    var run = 1L
    var longest = 1L
    var f = 1
    while (f < sums.length) {
      if (math.abs(sums(f) - sums(f - 1)) > cutMinMeanDeltaE3 * npx) {
        cuts += 1
        run = 1L
      } else run += 1
      if (run > longest) longest = run
      f += 1
    }
    Some((sums.length.toLong, cuts, longest))
  }

  /** Per-clip scene-cut frame over REAL media — the library route for the
    * x149 audit: (doc_id, decoded, n_frames, n_cuts, longest_scene);
    * undecodable rows keep `decoded = false` with zeroed counters.
    * Batched per partition like every decode step.
    */
  def videoSceneCutFrame(media: DataFrame, cutMinMeanDeltaE3: Long = 50000L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(decodeBatchSize).flatMap(_.map { case (id, p) =>
          decodeAviSceneCuts(p, cutMinMeanDeltaE3) match {
            case Some((nf, nc, ls)) => (id, true, nf, nc, ls)
            case None               => (id, false, 0L, 0L, 0L)
          }
        })
      }
      .toDF("doc_id", "decoded", "n_frames", "n_cuts", "longest_scene")
  }

  /** Evenly-strided REAL frame extraction — the video → image bridge the
    * x42 stub stands in for: every `every`-th complete '00db' frame of a
    * decodable AVI becomes a STANDALONE BMP payload (container surgery,
    * not re-encoding: the DIB frame body IS the BMP pixel array —
    * bottom-up BGR rows padded to 4 bytes — so a 54-byte
    * BITMAPFILEHEADER + BITMAPINFOHEADER prepend plus one byte copy
    * yields a file javax.imageio accepts, and every downstream IMAGE
    * operator — x139's dHash, x144's exposure audit — runs on frames
    * unchanged). Output (doc_id, frame_idx, payload); `frame_idx`
    * counts COMPLETE frames (the walk's own skip rule). Undecodable
    * payloads contribute no rows. Same hardened walk + batched
    * mapPartitions as every decode step; extraction collects only the
    * selected frames' 16-byte (idx, offset) pairs and builds each BMP
    * lazily as the consumer pulls it, so peak memory is the clip payload
    * plus ONE extracted frame — never the clip's worth of frames.
    */
  def extractAviFrames(media: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"every=$every: the extraction stride must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // the inner flatMap is over the batch's ITERATOR so the frame
        // iterators below stay lazy (Seq.flatMap would materialize every
        // BMP in the batch at once)
        it.grouped(decodeBatchSize).flatMap(_.iterator.flatMap { case (id, p) =>
          aviLayout(p) match {
            case None => Iterator.empty
            case Some((w, h, moviOff, moviEnd)) =>
              val rowSize = ((w * 3 + 3) / 4) * 4
              val frameBytes = rowSize * h
              // collect only the selected frames' (idx, offset) pairs —
              // 16 bytes each — then build each BMP LAZILY as the
              // consumer pulls it: peak memory is the clip payload plus
              // ONE extracted frame, never the clip's worth of frames
              val offs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
              var k = 0L
              foreachAviFrame(p, moviOff, moviEnd, frameBytes.toLong) { off =>
                if (k % every == 0) offs += ((k, off))
                k += 1
              }
              offs.iterator.map { case (idx, off) =>
                val bmp = new Array[Byte](54 + frameBytes)
                def ole16(o: Int, v: Int): Unit = {
                  bmp(o) = (v & 0xff).toByte; bmp(o + 1) = ((v >> 8) & 0xff).toByte
                }
                def ole32(o: Int, v: Int): Unit = {
                  ole16(o, v & 0xffff); ole16(o + 2, (v >> 16) & 0xffff)
                }
                bmp(0) = 'B'.toByte; bmp(1) = 'M'.toByte
                ole32(2, 54 + frameBytes); ole32(10, 54)
                ole32(14, 40); ole32(18, w); ole32(22, h)
                ole16(26, 1); ole16(28, 24); ole32(30, 0); ole32(34, frameBytes)
                ole32(38, 2835); ole32(42, 2835)
                System.arraycopy(p, off, bmp, 54, frameBytes)
                (id, idx, bmp)
              }
          }
        })
      }
      .toDF("doc_id", "frame_idx", "payload")
  }

  /** Batched distributed audio decode, flag-guarded like the pixel path:
    * with `audioDecode` on (default: [[AudioDecodeEnv]]), each payload
    * goes through [[decodeWavSamples]]; non-PCM/non-WAV rows — and every
    * row when the flag is off — keep the header/stub facts with
    * `decoded = false` and zeroed sample stats, so a mixed corpus
    * degrades visibly. Same mapPartitions batch shape as every decode
    * step here; per-row cost is one streaming pass over the payload
    * (CPU-bound scan work, linear in executors — the 100 TB posture).
    */
  def extractAudioFeatures(
      media: Dataset[MediaRecord],
      audioDecode: Boolean = sys.env.get(AudioDecodeEnv).contains("1")): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap(_.map { m =>
        val nb = m.payload.length.toLong
        (if (audioDecode) decodeWavSamples(m.payload) else None) match {
          case Some((rate, durMs, n, meanAbs, rms)) =>
            AudioFeatures(m.doc_id, m.modality, nb, "wav", durMs, rate, n, meanAbs, rms,
              decoded = true)
          case None =>
            val (fmt, a, b) = decode(m.payload)
            // header facts are duration/rate ONLY for the wav layout;
            // other formats' (a, b) are dims or stub hashes — not audio
            val (durMs, rate) = if (fmt == "wav") (a, b) else (0L, 0L)
            AudioFeatures(m.doc_id, m.modality, nb, fmt, durMs, rate, 0L, 0L, 0L,
              decoded = false)
        }
      })
    }
  }

  /** Batched distributed pixel decode — the real thing, flag-guarded:
    * with `pixelDecode` on (default: the [[PixelDecodeEnv]] env), each
    * payload goes through [[decodeImage]]; rows no installed reader
    * accepts — and every row when the flag is off — fall back to the
    * header/stub path with `decoded = false`, so a mixed or codec-less
    * corpus degrades visibly instead of silently. An [[OversizeRefused]]
    * row keeps the reader's HEADER dims and sets `oversize = true`
    * (decoded stays false: the claim was never verified by allocation) —
    * corpus triage can separate rejected header claims from codec
    * absence. Same mapPartitions batch shape as [[extractFeatures]];
    * per-row cost is the decode itself (CPU-bound scan work, linear in
    * executors — the 100 TB posture of every decode step here).
    */
  def extractPixelFeatures(
      media: Dataset[MediaRecord],
      pixelDecode: Boolean = sys.env.get(PixelDecodeEnv).contains("1")): Dataset[PixelFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap(_.map { m =>
        val nb = m.payload.length.toLong
        (if (pixelDecode) decodeImage(m.payload) else Unreadable) match {
          case Pixels(fmt, w, h, luma) =>
            PixelFeatures(m.doc_id, m.modality, nb, fmt, w, h, luma,
              decoded = true, oversize = false)
          case OversizeRefused(fmt, w, h) =>
            PixelFeatures(m.doc_id, m.modality, nb, fmt, w, h, 0L,
              decoded = false, oversize = true)
          case Unreadable =>
            val (fmt, w, h) = decode(m.payload)
            PixelFeatures(m.doc_id, m.modality, nb, fmt, w, h, 0L,
              decoded = false, oversize = false)
        }
      })
    }
  }

  /** Distributed batched decode: the real plumbing. Batches amortize
    * per-batch decoder setup exactly like `mapInPandas` batches do in
    * PySpark; output is the narrow features schema.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(decodeBatchSize).flatMap { batch =>
        batch.map { m =>
          val (fmt, w, h) = decode(m.payload)
          MediaFeatures(m.doc_id, m.modality, m.payload.length.toLong, fmt, w, h)
        }
      }
    }
  }

  /** Documents table → media records: text bytes stand in for the opaque
    * payload; modality assigned round-robin. (The testdata has no real
    * image bytes — the point is the binary-column plumbing.)
    */
  def asMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** A sampled frame: 1→N output of frame sampling, keyed back to its doc. */
  final case class MediaFrame(doc_id: Long, frame_idx: Long, payload: Array[Byte])

  /** STUB resize: a real implementation decodes, scales, re-encodes; the
    * stub deterministically re-hashes payload+dims so downstream schema and
    * the batched per-partition shape are exercised for real.
    */
  def resizeStub(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload)
    md.update(s"${w}x$h".getBytes)
    md.digest()
  }

  /** Batched per-partition resize — same `mapPartitions` plumbing a real
    * codec-backed implementation would keep; only [[resizeStub]] changes.
    */
  def resize(media: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.grouped(decodeBatchSize).flatMap(_.map(m =>
      m.copy(payload = resizeStub(m.payload, w, h)))))
  }

  /** Frame sampling: every video payload yields ceil(len / stride) "frames"
    * (payload slices in the stub; decoded frames for real) — the 1→N
    * flatMap shape that makes frame extraction distributable: downstream
    * operators join on (doc_id, frame_idx), never re-touching the source
    * video bytes.
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.filter(col("modality") === "video").flatMap { m =>
      m.payload.grouped(stride).zipWithIndex.map {
        case (slice, i) => MediaFrame(m.doc_id, i.toLong, slice)
      }
    }
  }

  /** An evenly-sampled frame reference: no payload, just the index and a
    * deterministic fingerprint — what a downstream dedup/embedding stage
    * keys on.
    */
  final case class FrameRef(doc_id: Long, n_frames: Long, frame_idx: Long, frame_h: Long)

  /** Evenly-spaced frame sampling (the "k thumbnails per video" shape):
    * n_frames = bytes/256 + 1 (stub — a real decoder reads the container
    * header), sample min(maxFrames, n_frames) indices evenly across
    * [0, n_frames-1], fingerprint each as h60(md5(payload) + "_" + idx).
    * Indices are strictly increasing because k <= n_frames. Batched
    * per-partition like every decode step here.
    */
  def sampleFramesEvenly(media: Dataset[MediaRecord], maxFrames: Int = 4): Dataset[FrameRef] = {
    import media.sparkSession.implicits._
    media.filter(col("modality") === "video").mapPartitions {
      _.grouped(decodeBatchSize).flatMap(_.flatMap { m =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val mh = md.digest(m.payload).map(b => f"$b%02x").mkString
        val nf = m.payload.length.toLong / 256 + 1
        val k = math.min(maxFrames.toLong, nf)
        val idxs = if (k == 1) Seq(0L) else (0L until k).map(j => j * (nf - 1) / (k - 1))
        idxs.map(i => FrameRef(m.doc_id, nf, i, XHash.h60(s"${mh}_$i")))
      })
    }
  }

  val queries: Seq[Q] = Seq(
    // ----- x42: evenly-spaced frame sampling (video thumbnails) -----
    Q(
      "x42_frame_sample",
      Some(
        "WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2), " +
          "m AS (SELECT doc_id, md5(text) AS mh, " +
          "octet_length(encode(text)) // 256 + 1 AS nf FROM v), " +
          "k AS (SELECT doc_id, mh, nf, least(4, nf) AS k FROM m), " +
          "f AS (SELECT doc_id, mh, nf, k, unnest(generate_series(0, k - 1)) AS j FROM k), " +
          "i AS (SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, " +
          "CAST(CASE WHEN k = 1 THEN 0 ELSE (j * (nf - 1)) // (k - 1) END AS BIGINT) " +
          "AS frame_idx, mh FROM f) " +
          "SELECT doc_id, n_frames, frame_idx, " +
          s"${XHash.h60Sql("mh || '_' || CAST(frame_idx AS VARCHAR)")} AS frame_h " +
          "FROM i ORDER BY doc_id, frame_idx"),
      "evenly-spaced frame sampling for the video modality — the 'k thumbnails per video' " +
        "stage of a multimodal pipeline: frame count derived from the payload (the oracle-" +
        "pinned stub form; the PRODUCTION route is extractAviFrames, which walks the real " +
        "container and emits standalone BMP frames — see x148), min(4, n) indices spread across the clip, " +
        "each fingerprinted so downstream frame-level dedup/embedding joins on " +
        "(doc_id, frame_idx) without re-touching the bytes. Same batched mapPartitions " +
        "plumbing as x12 — the 1-to-N flatMap that makes frame work distributable."
    ) { (s, dir) =>
      sampleFramesEvenly(asMedia(s, table(s, dir, "documents")))
        .toDF().orderBy("doc_id", "frame_idx")
    },

    // ----- x144: image exposure audit (crushed blacks / blown whites / contrast) -----
    Q(
      "x144_image_exposure",
      Some(
        "WITH px AS (SELECT doc_id, x, y FROM documents, " +
          "(SELECT unnest(generate_series(0, 8)) AS x), " +
          "(SELECT unnest(generate_series(0, 7)) AS y)), " +
          s"rv AS (SELECT doc_id, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'e' || CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR)")} % 100 AS r FROM px), " +
          "lm AS (SELECT doc_id, 1000 * (CASE WHEN r < 7 THEN 5 WHEN r < 12 THEN 250 " +
          "ELSE 40 + r END) AS l FROM rv), " +
          "pc AS (SELECT doc_id, " +
          "CAST(sum(CASE WHEN l <= 30000 THEN 1 ELSE 0 END) AS BIGINT) AS dk, " +
          "CAST(sum(CASE WHEN l >= 225000 THEN 1 ELSE 0 END) AS BIGINT) AS br, " +
          "CAST(sum(l) AS BIGINT) AS sl, CAST(sum(l * l) AS BIGINT) AS sq " +
          "FROM lm GROUP BY doc_id) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_imgs, " +
          "CAST(sum(dk) AS BIGINT) AS dark_total, " +
          "CAST(sum(br) AS BIGINT) AS bright_total, " +
          "CAST(bit_xor(sl) AS BIGINT) AS sum_xor, " +
          "CAST(bit_xor(sq) AS BIGINT) AS sq_xor " +
          "FROM pc GROUP BY 1 ORDER BY 1"),
      "IMAGE EXPOSURE audit — x143's twin for the pixel modality: an image corpus " +
        "must drop crushed-black and blown-white garbage (failed thumbnails, " +
        "overexposed scans) before training, and the detectors are exact integer " +
        "counters over e3 BT.601 luma (299R+587G+114B, never divided): n_dark = " +
        "luma <= 30000 (crushed), n_bright = luma >= 225000 (blown), sum + " +
        "sum-of-squares (exact mean/variance sufficient statistics — contrast). " +
        "Per doc a REAL 9x8 BMP is synthesized closed-form (~7% dark / ~5% bright " +
        "pixels per the per-pixel md5 branch; equal channels make luma exactly " +
        "1000*gray) and decoded through the streaming-row javax.imageio read " +
        "(decodeImageExposure — one pixel row of memory, oversize headers refused); " +
        "the oracle recomputes every counter from the same closed form. Library " +
        "route for real media: Multimodal.imageExposureFrame. " +
        "Scale: one decode pass, one groupBy — x12's " +
        "shape; sq overflow needs >1.4e8 px, already refused by the header guard."
    ) { (s, dir) =>
      import s.implicits._
      val media = table(s, dir, "documents").select("doc_id").as[Long]
        .mapPartitions(_.map { id =>
          (id, PerceptualDedup.makeBmp(9, 8, (x, y) => {
            val r = (XHash.h60(s"${id}e${x}_$y") % 100).toInt
            if (r < 7) 5 else if (r < 12) 250 else 40 + r
          }))
        })
        .toDF("doc_id", "payload")
      imageExposureFrame(media)
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_imgs"),
          sum("n_dark").as("dark_total"),
          sum("n_bright").as("bright_total"),
          expr("bit_xor(sum_e3)").as("sum_xor"),
          expr("bit_xor(sq_e3)").as("sq_xor"))
        .orderBy("decile")
    },

    // ----- x143: audio quality audit (silence / clipping / energy) -----
    Q(
      "x143_audio_quality",
      Some(
        "WITH sj AS (SELECT doc_id, j FROM documents, " +
          "(SELECT unnest(generate_series(0, 159)) AS j)), " +
          s"lv AS (SELECT doc_id, j, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'q' || CAST(j AS VARCHAR)")} % 100 AS r FROM sj), " +
          "cs AS (SELECT doc_id, (CASE WHEN r < 6 THEN 128 WHEN r < 10 THEN 255 " +
          "WHEN r < 13 THEN 0 ELSE 20 + 2 * r END) - 128 AS s FROM lv), " +
          "pc AS (SELECT doc_id, " +
          "CAST(sum(CASE WHEN abs(s) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS sil, " +
          "CAST(sum(CASE WHEN s >= 127 OR s <= -128 THEN 1 ELSE 0 END) AS BIGINT) AS clip, " +
          "CAST(sum(abs(s)) AS BIGINT) AS sa, " +
          "CAST(sum(abs(s) * abs(s)) AS BIGINT) AS sq, " +
          "CAST(max(abs(s)) AS BIGINT) AS pk FROM cs GROUP BY doc_id) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_clips, " +
          "CAST(sum(sil) AS BIGINT) AS silent_total, " +
          "CAST(sum(clip) AS BIGINT) AS clipped_total, " +
          "CAST(bit_xor(sa) AS BIGINT) AS abs_xor, " +
          "CAST(bit_xor(sq) AS BIGINT) AS sq_xor, " +
          "CAST(max(pk) AS BIGINT) AS peak_max " +
          "FROM pc GROUP BY 1 ORDER BY 1"),
      "AUDIO QUALITY audit — the x09 idea one modality over: a speech/audio corpus " +
        "must drop dead air and clipped garbage before training, and the detectors " +
        "are exact integer counters over centered PCM samples (no spectral features " +
        "needed): n_silent = |s| <= 1 (dead air), n_clipped = samples parked at the " +
        "format rails (-128 / +127 for 8-bit — the clipping signature), sum|s| / " +
        "sum(s^2) / peak (energy + dynamic range, division-free). Per doc a REAL " +
        "160-sample 8-bit PCM WAV is synthesized closed-form (~6% silent, ~4% " +
        "clip-high, ~3% clip-low per the per-sample md5 branch) and decoded through " +
        "the hardened RIFF walk (decodeWavQuality — claimed sizes clamped); the " +
        "oracle recomputes every counter from the same closed form, so the green row " +
        "pins encode -> layout walk -> centering -> counters exactly. Library route " +
        "for real media: Multimodal.audioQualityFrame (per-clip counters; the filter " +
        "rule is the caller's, e.g. silent > 90% or clipped > 5%). Scale: one decode " +
        "pass, one groupBy — x12's shape."
    ) { (s, dir) =>
      import s.implicits._
      val media = FixtureSidecar(s, s"x143_media_${FixtureSidecar.dirTag(dir)}")(
        table(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(160) { j =>
              val r = (XHash.h60(s"${id}q$j") % 100).toInt
              if (r < 6) 128 else if (r < 10) 255 else if (r < 13) 0 else 20 + 2 * r
            }
            (id, PerceptualDedup.makeWav8(8000, samples))
          })
          .toDF("doc_id", "payload"))
      audioQualityFrame(media)
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum("n_silent").as("silent_total"),
          sum("n_clipped").as("clipped_total"),
          expr("bit_xor(sum_abs)").as("abs_xor"),
          expr("bit_xor(sum_sq)").as("sq_xor"),
          max("peak").as("peak_max"))
        .orderBy("decile")
    },

    // ----- x151: utterance segmentation (silence-gap splitting, the VAD signal) -----
    Q(
      "x151_utterance_split",
      Some(
        "WITH bd AS (SELECT doc_id, b FROM documents, " +
          "(SELECT unnest(generate_series(0, 19)) AS b)), " +
          s"gp AS (SELECT doc_id, b, ${XHash.h60Sql("CAST(doc_id AS VARCHAR) || 'g' || CAST(b AS VARCHAR)")} % 4 = 0 AS gap FROM bd), " +
          "q AS (SELECT doc_id, b, gap, " +
          "lag(gap) OVER (PARTITION BY doc_id ORDER BY b) AS pg, " +
          "sum(CASE WHEN gap THEN 1 ELSE 0 END) OVER " +
          "(PARTITION BY doc_id ORDER BY b) AS seg FROM gp), " +
          "sl AS (SELECT doc_id, seg, " +
          "sum(CASE WHEN gap THEN 0 ELSE 1 END) AS nb FROM q GROUP BY 1, 2), " +
          "pc AS (SELECT q.doc_id, " +
          "CAST(sum(CASE WHEN NOT gap AND (pg IS NULL OR pg) THEN 1 ELSE 0 END) AS BIGINT) AS nu " +
          "FROM q GROUP BY 1), " +
          "pl AS (SELECT doc_id, CAST(8 * coalesce(max(nb), 0) AS BIGINT) AS lu FROM sl GROUP BY 1) " +
          "SELECT doc_id % 10 AS decile, CAST(count(*) AS BIGINT) AS n_clips, " +
          "CAST(sum(nu) AS BIGINT) AS utt_total, " +
          "CAST(bit_xor(nu) AS BIGINT) AS utt_xor, " +
          "CAST(bit_xor(lu) AS BIGINT) AS longest_xor " +
          "FROM pc JOIN pl USING (doc_id) GROUP BY 1 ORDER BY 1"),
      "UTTERANCE segmentation — the x149 scene-cut rule's audio sibling, the " +
        "VAD-style signal a speech corpus keys curation on (many short fragments = " +
        "chopped uploads; one unbroken block = no natural segment boundaries for " +
        "training windows): a run of >= 8 consecutive SILENT samples (|s| <= 1, " +
        "x143's rule) is a SEPARATOR; an utterance is a maximal segment between " +
        "separators containing voiced samples — short pauses stay INSIDE an " +
        "utterance, which is exactly what a fixed silence-threshold splitter gets " +
        "wrong. Counters are exact integers (n_utterances, longest in samples). " +
        "Fixture: per doc a REAL 160-sample WAV of twenty 8-sample bands — each " +
        "band silent (all-128) with closed-form probability 1/4, else never-silent " +
        "voiced samples — so separators align with band runs and the oracle " +
        "replays the segmentation with window functions (islands by cumulative gap " +
        "count) while the DECODER runs the general sample-level rule; the two " +
        "agree exactly because fixture silence only occurs in full bands. Library " +
        "route for real media: Multimodal.audioUtteranceFrame. " +
        "Scale: one decode pass + one groupBy."
    ) { (s, dir) =>
      import s.implicits._
      val media = FixtureSidecar(s, s"x151_media_${FixtureSidecar.dirTag(dir)}")(
        table(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(160) { j =>
              val b = j / 8
              if (XHash.h60(s"${id}g$b") % 4 == 0) 128
              else 30 + (XHash.h60(s"${id}u$j") % 90).toInt
            }
            (id, PerceptualDedup.makeWav8(8000, samples))
          })
          .toDF("doc_id", "payload"))
      audioUtteranceFrame(media)
        .groupBy((col("doc_id") % 10).as("decile"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum("n_utterances").as("utt_total"),
          expr("bit_xor(n_utterances)").as("utt_xor"),
          expr("bit_xor(longest_utterance)").as("longest_xor"))
        .orderBy("decile")
    },

    // ----- x12: multimodal feature extraction over binary payloads -----
    Q(
      "x12_multimodal",
      Some(
        "SELECT doc_id, (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS modality, " +
          "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
          // word-soup payloads match no container magic, so the real
          // header parse always falls through to the md5 stub here
          "'unknown' AS format, " +
          s"${XHash.h60Sql("text")} % 1024 AS width, " +
          s"(${XHash.h60Sql("text")} >> 10) % 1024 AS height " +
          "FROM documents WHERE doc_id < 200 ORDER BY doc_id"),
      "binary payload column + typed metadata; batched per-partition decode. PNG/GIF/BMP " +
        "dimensions and WAV duration are parsed from the REAL container byte layout " +
        "(spec-pinned on hand-built files); opaque codec formats fall back to the " +
        "deterministic md5 stub the oracle mirrors"
    ) { (s, dir) =>
      val media = asMedia(s, table(s, dir, "documents").filter(col("doc_id") < 200))
      extractFeatures(media).toDF().orderBy("doc_id")
    }
  )
}
